"""Similarity search over the embedding column (SURVEY.md §2B
simsearch_cosine_knn; north_star "similarity search"). Probe set, tie
order, scorer and rank cut come from the vector-search kit
(``llm.vecsearch``); each tier here keeps its candidates and readout:
- brute-force top-k and cosine range (the correctness baseline,
  oracle-checked);
- BucketedRandomProjectionLSH (pyspark.ml) — bucketed candidate join;
- IVF-style coarse quantization — seeded random centroids, nearest-cell
  assignment JVM-side, probe-N-cells search. The IVF shape is the 100 TB
  path: the index is just a (cell → vectors) partitioned table, searches
  are equi-joins on cell id, and everything shuffles on small keys;
- product quantization — asymmetric-distance scoring over PQ codes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import cosine_expr, cosine_sql, dot_expr
from flink_streaming_gnn_spark.graph.sage import DIM
from flink_streaming_gnn_spark.llm.vecsearch import (
    N_PROBES,
    brute_range,
    brute_topk,
    probes,
    top_k,
    topk_sql,
)
from flink_streaming_gnn_spark.sources.tables import load_table

TOP_K = 20


def simsearch_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 for the probe set (BASELINE
    ``vector_knn_cosine`` shape): the exact partial top-k scorer of
    ``llm.vecsearch``, then the per-probe ``top_k`` window.

    The numpy-matmul scorer was chosen over the pure-JVM expression fold
    (still used by the IVF/LSH tiers) after measuring ~2× on the 64-dim
    fixture: a 250k×64 matmul is where BLAS beats codegen'd per-element
    folds. Output is hash-identical to scoring everything (verified at
    sf0.001/sf0.01): same doubles at round-6."""
    scored = brute_topk(load_table(spark, sf_dir, "embeddings"), TOP_K)
    return top_k(scored, F.col("cos").desc(), TOP_K).select(
        "probe_id", "cand_id", F.round("cos", 6).alias("cos"), "rank"
    )


COS_RANGE_THRESHOLD = 0.3  # ≈ p99 of the pairwise cosine distribution


def simsearch_range_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search — the other ANN query shape next to top-k: ALL
    collection vectors within a cosine radius of each probe (the
    "find every near-duplicate / every in-cluster member" query, where
    top-k would truncate dense neighborhoods and pad sparse ones).
    Same single-scan BLAS scorer as the knn tier; the radius filter
    replaces the ranking window, so the plan has NO shuffle at all —
    score, filter, project. Both engines filter on the round-6 score so
    the threshold boundary is engine-stable; the scorer prefilters on the
    raw score with a half-ulp-of-round-6 margin (5.1e-7), and the exact
    rounded filter is re-applied JVM-side."""
    scored = brute_range(
        load_table(spark, sf_dir, "embeddings"),
        min_score=COS_RANGE_THRESHOLD - 5.1e-7,
    )
    return (
        scored.withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= COS_RANGE_THRESHOLD)
        .select("probe_id", "cand_id", "cos")
    )


def ivf_centroids(n_cells: int = 16, dim: int = DIM, seed: int = 7) -> np.ndarray:
    """Seeded random unit centroids (stand-in for a k-means pass)."""
    c = np.random.RandomState(seed).randn(n_cells, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cell_ranking(emb_col: str, centroids: np.ndarray) -> F.Column:
    """Cells ranked best-first as array<struct<negs,i>>: one array_sort
    over (−score, index) structs — ascending sort = descending score with
    lowest-index tiebreak. Each per-cell dot product appears EXACTLY ONCE
    in the array literal (building the structs from a `scores` column
    reference looks cleaner but Catalyst's project-collapse inlines the
    whole score array into every element_at, squaring the expression
    tree; the previous greatest()+chained-when / repeated-nth shape had
    the same disease — 4× the tree for the same result)."""
    return F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        -F.expr(
                            dot_expr(
                                emb_col,
                                "array(" + ",".join(repr(float(x)) for x in c) + ")",
                            )
                        )
                    ).alias("negs"),
                    F.lit(i).cast("int").alias("i"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell
    (JVM expression argmax), then search each probe only within its own
    top-3 cells — an equi-join on cell id replaces the cross join.
    Rows-only check (approximate by construction); recall vs brute force
    is asserted in tests/test_llm.py."""
    cents = ivf_centroids()
    e = load_table(spark, sf_dir, "embeddings")
    ranked = _cell_ranking("embedding", cents)
    assigned = e.select(
        "vec_id", "embedding", F.element_at(ranked, 1)["i"].alias("cell")
    )
    # probe cells: top-3 centroid scores per probe vector, one explode
    probe_cells = (
        e.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("p_emb"),
            F.explode(F.slice(ranked, 1, 3)).alias("rc"),
        )
        .select("probe_id", "p_emb", F.col("rc.i").alias("cell"))
    )
    cands = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "cell"
    )
    scored = (
        F.broadcast(probe_cells)
        .join(cands, "cell")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id", F.expr(cosine_expr("p_emb", "c_emb")).alias("cos"))
    )
    return top_k(scored, F.col("cos").desc(), TOP_K).select(
        "probe_id", "cand_id", F.round("cos", 6).alias("cos"), "rank"
    )


# LSH geometry, matched to the fixture's UNIT-NORM 64-dim embeddings
# (measured: random-pair L2 ∈ [1.19, 1.55], 1-D projection std ≈ 0.125):
# bucketLength slices each random projection into ~meaningful bins
# instead of putting the whole corpus in one bucket, and the join
# threshold sits in the LOW TAIL of the random-pair distribution
# (ADVICE r6: 1.3 is inside the [1.19, 1.55] span, not below its 1st
# percentile) — the low-tail fraction of random pairs that pass the
# radius is then cut by the per-probe top-k window; the bounded-output
# guarantee comes from the top-k, the threshold only thins candidates.
LSH_BUCKET_LEN = 0.125
LSH_L2_THRESHOLD = 1.3
LSH_TABLES = 4


def simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH ANN via pyspark.ml
    BucketedRandomProjectionLSH: bucketed candidate join → exact
    re-rank → per-probe top-k. Rows-only (randomized family; recall vs
    the exact brute-force tier asserted in tests — unit-norm vectors
    make the L2 and cosine orderings identical, L2² = 2 − 2·cos).

    Round-6 rewrite (the ×10 probe caught the original at 118 s): the
    first cut used bucketLength=2.0 and threshold=8.0 against a corpus
    whose 1-D projections span ±0.4 and whose LARGEST pairwise distance
    is ~1.6 — every vector hashed into the same bucket and every
    candidate passed the threshold, so the "LSH" join was a
    probe × corpus cross product returned in full. Bucket geometry now
    matches the data (≈1 projection-σ per bucket), the threshold only
    admits genuine neighbors, and the output is the bounded top-k per
    probe (WindowGroupLimit — the per-partition k-row cut), not the
    unbounded candidate list: 118 → ~5 s at ×10 with recall intact."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("v")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v",
        outputCol="hashes",
        bucketLength=LSH_BUCKET_LEN,
        numHashTables=LSH_TABLES,
        seed=42,
    )
    model = lsh.fit(e)
    probes = e.filter(F.col("vec_id") < N_PROBES)
    pairs = model.approxSimilarityJoin(probes, e, LSH_L2_THRESHOLD, distCol="l2")
    cand = pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("cand_id"),
        F.round("l2", 6).alias("l2"),
    )
    return top_k(cand, F.col("l2").asc(), TOP_K).select("probe_id", "cand_id", "l2", "rank")


PQ_M = 8  # subvectors
PQ_K = 16  # centroids per subspace
PQ_TRAIN_N = 256  # bounded, deterministic training sample (driver-side)


def pq_codebooks(
    vecs: np.ndarray, m: int = PQ_M, k: int = PQ_K, iters: int = 8, seed: int = 11
) -> np.ndarray:
    """Per-subspace k-means codebooks (m, k, dim/m) via a few seeded Lloyd
    iterations on a bounded sample — PQ training stays driver-side
    because it touches PQ_TRAIN_N rows, never the collection."""
    n, dim = vecs.shape
    d = dim // m
    rs = np.random.RandomState(seed)
    books = []
    for j in range(m):
        sub = vecs[:, j * d : (j + 1) * d]
        cent = sub[rs.choice(n, k, replace=False)].copy()
        for _ in range(iters):
            dist = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for c in range(k):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(0)
        books.append(cent)
    return np.stack(books)


def simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011) — the
    memory-bound tier of the ANN ladder (brute / IVF / LSH / PQ): each
    L2-normalized vector is encoded as PQ_M 4-bit-ish codes (argmin to the
    subspace codebook), and probes score candidates by asymmetric distance
    — one lookup-table gather per subspace instead of a 64-dim dot.

    100 TB posture: the encoded collection is PQ_M bytes/vector (64× less
    than float32×64), built in ONE embarrassingly-parallel pass; the
    codebooks (m·k·d floats) and the probes' LUTs are closure-broadcast;
    scoring is a numpy fancy-index gather inside Arrow-batched mapInPandas
    — no shuffle until the (probe, cand, score) triples hit the top-k
    window. Rows-only (quantization is lossy by design); recall@k vs the
    brute-force tier is pinned in tests/test_llm.py."""
    e = load_table(spark, sf_dir, "embeddings")
    train = (
        e.filter(F.col("vec_id") < PQ_TRAIN_N).select("vec_id", "embedding").collect()
    )
    t_mat = np.array([list(r.embedding) for r in train], dtype=np.float64)
    t_mat /= np.linalg.norm(t_mat, axis=1, keepdims=True)
    books = pq_codebooks(t_mat)  # (m, k, d)
    ids, p_mat = probes(e)
    m, k, d = books.shape
    # ADC lookup tables: lut[p, j, c] = <probe_p subvec_j, codebook[j][c]>
    lut = np.einsum("pjd,jcd->pjc", p_mat.reshape(len(ids), m, d), books)
    books_l = books.tolist()
    lut_l = lut.tolist()

    def score(batches):
        import numpy as _np
        import pandas as _pd

        bk = _np.asarray(books_l)  # (m, k, d)
        lt = _np.asarray(lut_l)  # (p, m, k)
        n_p = len(ids)
        for pdf in batches:
            c = _np.stack([_np.asarray(x, dtype=_np.float64) for x in pdf["embedding"]])
            c /= _np.linalg.norm(c, axis=1, keepdims=True)
            sub = c.reshape(len(c), m, d)  # (n, m, d)
            # encode: argmin L2 to each subspace codebook
            d2 = ((sub[:, :, None, :] - bk[None, :, :, :]) ** 2).sum(-1)  # (n, m, k)
            codes = d2.argmin(-1)  # (n, m)
            # ADC score for all probes: gather + sum over subspaces
            g = lt[:, _np.arange(m)[None, :], codes]  # (p, n, m)
            s = g.sum(-1)  # (p, n)
            n_c = len(c)
            yield _pd.DataFrame(
                {
                    "cand_id": _np.tile(pdf["vec_id"].values, n_p),
                    "probe_id": _np.repeat(ids, n_c),
                    "adc_cos": s.ravel(),
                }
            )

    scored = (
        e.select("vec_id", "embedding")
        .mapInPandas(score, schema="cand_id long, probe_id long, adc_cos double")
        .filter(F.col("probe_id") != F.col("cand_id"))
    )
    return top_k(scored, F.col("adc_cos").desc(), TOP_K).select(
        "probe_id", "cand_id", F.round("adc_cos", 6).alias("adc_cos"), "rank"
    )


def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids, fully relational: posexplode the
    vector column to (label, dim, value) and hash-aggregate the mean —
    the shuffle carries scalars keyed by (label, dim), so centroid
    computation over 100 TB of vectors is an ordinary two-level aggregate
    (map-side partials per dimension), no Python anywhere. This is the
    training side of dedup_embedding_cosine's quantizer cells and the
    nearest-class-mean classifier baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mean_val"),
             F.count("*").cast("long").alias("n_vecs"))
        .select(
            F.col("label").cast("long").alias("label"),
            (F.col("pos") + 1).cast("long").alias("dim"),
            "mean_val",
            "n_vecs",
        )
    )


QUERIES = {
    "simsearch_range_cosine": simsearch_range_cosine,
    "simsearch_cosine_knn": simsearch_cosine_knn,
    "simsearch_pq": simsearch_pq,
    "emb_centroid_per_label": emb_centroid_per_label,
    "vector_knn_cosine": simsearch_cosine_knn,  # BASELINE.md headline name
    "simsearch_ivf": simsearch_ivf,
    "simsearch_lsh": simsearch_lsh,
}

_PC_COS = cosine_sql("p.embedding", "c.embedding")

_KNN_SQL = f"""
    WITH scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               {_PC_COS} AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < {N_PROBES}
    ),
    ranked AS ({topk_sql("scored", "cos DESC", TOP_K)})
    SELECT probe_id, cand_id, round(cos, 6) AS cos, rank FROM ranked
"""


def _ivf_oracle_sql() -> str:
    """Round-2 upgrade from rows-only: the IVF tier is fully deterministic
    (seeded DATA-INDEPENDENT centroids → embeddable as SQL literals; JVM
    argmax assignment; top-3 probe cells; exact re-rank), so the oracle
    recomputes the identical index and search. Cell ranking = row_number
    over the 16 exploded (cell, dot) pairs per vector — the same
    best-first order as the Spark array_sort (score desc, index asc)."""
    cents = ivf_centroids()
    cell_rows = ",\n                ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(cell, cv) AS (
            VALUES {cell_rows}
        ),
        scored_cells AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS s,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY
                       list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                       c.cell
                   ) AS cr
            FROM embeddings e CROSS JOIN cents c
        ),
        assigned AS (
            SELECT vec_id AS cand_id, embedding AS c_emb, cell
            FROM scored_cells WHERE cr = 1
        ),
        probe_cells AS (
            SELECT vec_id AS probe_id, embedding AS p_emb, cell
            FROM scored_cells WHERE vec_id < {N_PROBES} AND cr <= 3
        ),
        pairs AS (
            SELECT p.probe_id, a.cand_id, {cosine_sql("p.p_emb", "a.c_emb")} AS cos
            FROM probe_cells p JOIN assigned a USING (cell)
            WHERE p.probe_id <> a.cand_id
        ),
        ranked AS ({topk_sql("pairs", "cos DESC", TOP_K)})
        SELECT probe_id, cand_id, round(cos, 6) AS cos, rank FROM ranked
    """


ORACLE = {
    "simsearch_ivf": _ivf_oracle_sql(),
    "simsearch_range_cosine": f"""
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               round({_PC_COS}, 6) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < {N_PROBES}
          AND round({_PC_COS}, 6) >= {COS_RANGE_THRESHOLD}
    """,
    "simsearch_cosine_knn": _KNN_SQL,
    "vector_knn_cosine": _KNN_SQL,
    "emb_centroid_per_label": """
        WITH pos AS (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS dim,
                   embedding
            FROM embeddings
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(dim AS BIGINT) AS dim,
               round(avg(CAST(embedding[dim] AS DOUBLE)), 6) AS mean_val,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM pos
        GROUP BY label, dim
    """,
    # simsearch_ivf / simsearch_lsh: rows-only (approximate; recall pinned in tests)
}
