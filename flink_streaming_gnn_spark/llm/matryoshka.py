"""Matryoshka truncation-recall evaluation (SURVEY.md north-star
"similarity search" tier): how much nearest-neighbor quality survives
truncating embeddings to their first ``TRUNC_DIMS`` coordinates —
the evaluation behind Matryoshka Representation Learning (Kusupati et
al. 2022) and every "use the short prefix for the cheap ANN tier"
deployment. For each probe, top-``K`` neighbors are computed under the
full 64-dim cosine AND under the 16-dim prefix cosine; recall@K is the
overlap fraction.

Spark-first shape: the probe set is scale-invariant (``vec_id <
N_PROBES``, the ``ml_knn_classify`` discipline), probes broadcast, and
BOTH cosines are computed in the SAME corpus pass (one scan, two
ranking windows partitioned by probe — no second scan for the truncated
tier). The overlap count is an equi-join of the two rank-≤K row sets on
(probe, neighbor) — integer-exact, so recall is a deterministic
rational. Rank cuts use rounded-cosine + vec_id total order (the
repo-wide knn tie discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import dot_expr
from flink_streaming_gnn_spark.llm.neardup import band_pairs, clone_groups, clone_groups_sql
from flink_streaming_gnn_spark.sources.tables import load_table

N_PROBES = 50
K = 5
TRUNC_DIMS = 16


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = "cast(embedding as array<double>)"
    trunc = f"slice(cast(embedding as array<double>), 1, {TRUNC_DIMS})"
    # norms are per-VECTOR, so compute them BEFORE the 50× probe fan-out
    # (projecting them after the join would redo 64-dim reductions per
    # pair — project-before-fanout is the whole cosine denominator)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.expr(f"sqrt({dot_expr(full, full)})").alias("nf"),
        F.expr(f"sqrt({dot_expr(trunc, trunc)})").alias("nt"),
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("v").alias("pv"),
        F.col("nf").alias("pnf"),
        F.col("nt").alias("pnt"),
    )
    pairs = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("pid"))
    dot_full = F.expr(dot_expr("v", "pv"))
    dot_tr = F.expr(
        dot_expr(f"slice(v, 1, {TRUNC_DIMS})", f"slice(pv, 1, {TRUNC_DIMS})")
    )
    scored = pairs.select(
        "pid",
        "vec_id",
        F.round(dot_full / (F.col("nf") * F.col("pnf")), 6).alias("c_full"),
        F.round(dot_tr / (F.col("nt") * F.col("pnt")), 6).alias("c_tr"),
    )
    wf = Window.partitionBy("pid").orderBy(F.col("c_full").desc(), "vec_id")
    wt = Window.partitionBy("pid").orderBy(F.col("c_tr").desc(), "vec_id")
    ranked = scored.select(
        "pid",
        "vec_id",
        F.row_number().over(wf).alias("rk_full"),
        F.row_number().over(wt).alias("rk_tr"),
    )
    top_full = ranked.filter(F.col("rk_full") <= K).select("pid", "vec_id")
    top_tr = ranked.filter(F.col("rk_tr") <= K).select("pid", "vec_id")
    common = top_full.join(top_tr, ["pid", "vec_id"]).groupBy("pid").agg(
        F.count("*").cast("long").alias("n_common")
    )
    return (
        probes.select("pid")
        .join(common, "pid", "left")
        .select(
            F.col("pid").alias("probe_id"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)) / F.lit(float(K))).alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


def _cos(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


ORACLE_SQL = f"""
    WITH probes AS MATERIALIZED (
        SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
        FROM embeddings WHERE vec_id < {N_PROBES}
    ),
    scored AS MATERIALIZED (
        SELECT p.pid, e.vec_id,
               {_cos("CAST(e.embedding AS DOUBLE[])", "p.pv")} AS c_full,
               {_cos(f"CAST(e.embedding AS DOUBLE[])[1:{TRUNC_DIMS}]", f"p.pv[1:{TRUNC_DIMS}]")} AS c_tr
        FROM embeddings e JOIN probes p ON e.vec_id <> p.pid
    ),
    ranked AS MATERIALIZED (
        SELECT pid, vec_id,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY c_full DESC, vec_id) AS rk_full,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY c_tr DESC, vec_id) AS rk_tr
        FROM scored
    ),
    common AS (
        SELECT a.pid, CAST(count(*) AS BIGINT) AS n_common
        FROM (SELECT pid, vec_id FROM ranked WHERE rk_full <= {K}) a
        JOIN (SELECT pid, vec_id FROM ranked WHERE rk_tr <= {K}) b
          ON a.pid = b.pid AND a.vec_id = b.vec_id
        GROUP BY a.pid
    )
    SELECT p.pid AS probe_id,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           coalesce(c.n_common, 0) / {float(K)} AS recall_at_k
    FROM probes p LEFT JOIN common c ON c.pid = p.pid
    ORDER BY probe_id
"""

QUERIES = {"emb_matryoshka_recall": emb_matryoshka_recall}
ORACLE = {"emb_matryoshka_recall": ORACLE_SQL}


def dedup_image_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE groups from perceptual hashes — the dedup
    stage the ``multimodal_image_ahash`` fingerprints exist to feed,
    completing the image pipeline (decode → fingerprint → banded
    candidate join → exact verify), the ``dedup_simhash`` discipline
    applied to the image modality.

    GROUP-LEVEL pairs, not doc-level (the clone collapse of
    ``llm.neardup``, measured here: the ×10 bench corpus gives 8.2e10
    doc-level banded candidates, an answer that explodes before any engine
    touches it). The banded join runs over DISTINCT hash values only,
    whose count is bounded by image diversity, not corpus size. Distinct
    hashes are never at distance 0, so there are no self rows.

    Zero-miss candidate generation by pigeonhole: the 64-bit hash splits
    into 4 bands of 16 bits; ``HAM_T`` (= 2) bit flips touch at most 2
    bands, so every qualifying pair of distinct hashes shares at least
    one identical band — the equi-join on (band_idx, band) provably
    generates all of them, and only candidates pay the 64-position
    exact verify. All integer arithmetic: no float boundary exists
    anywhere in this key.
    """
    from flink_streaming_gnn_spark.llm.multimodal import multimodal_image_ahash

    # distinct-hash groups; referenced three times below (band explode +
    # both verify sides) — localCheckpoint pins ONE materialization of
    # the Python hashing pass
    groups = clone_groups(
        multimodal_image_ahash(spark, sf_dir), "doc_id", "ahash_bits"
    ).localCheckpoint()
    bands = [F.substring("ahash_bits", 1 + 16 * i, 16) for i in range(4)]
    cands = band_pairs(groups, "rep_id", bands).toDF("rep_a", "rep_b")
    ga = groups.select(
        F.col("rep_id").alias("rep_a"),
        F.col("ahash_bits").alias("ha"),
        F.col("n").alias("n_docs_a"),
    )
    gb = groups.select(
        F.col("rep_id").alias("rep_b"),
        F.col("ahash_bits").alias("hb"),
        F.col("n").alias("n_docs_b"),
    )
    hamming = F.expr(
        "aggregate(sequence(1, 64), 0, (acc, i) ->"
        " acc + IF(substring(ha, i, 1) = substring(hb, i, 1), 0, 1))"
    ).cast("long")
    return (
        cands.join(ga, "rep_a")
        .join(gb, "rep_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAM_T)
        .select("rep_a", "rep_b", "n_docs_a", "n_docs_b", "hamming")
        .orderBy("rep_a", "rep_b")
    )


HAM_T = 2

# the oracle verifies ALL pairs (no banding) — a cross-formulation proof
# that the 4-band pigeonhole candidate join misses nothing at HAM_T < 4
_AHASH_BITS_CTE = """
    meta AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        FROM documents
    ),
    grid AS (
        SELECT doc_id, i.i AS i, j.j AS j,
               (i.i * h) // 8 AS ys, (j.j * w) // 8 AS xs
        FROM meta,
             LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i,
             LATERAL (SELECT unnest(generate_series(0, 7)) AS j) j
    ),
    luma AS (
        SELECT doc_id, i, j,
               299 * ((doc_id + 3*ys + 5*xs) % 256)
             + 587 * ((doc_id + 3*ys + 5*xs + 11) % 256)
             + 114 * ((doc_id + 3*ys + 5*xs + 22) % 256) AS l
        FROM grid
    ),
    bits AS (
        SELECT doc_id, i, j,
               CASE WHEN 64 * l > sum(l) OVER (PARTITION BY doc_id)
                    THEN '1' ELSE '0' END AS bit
        FROM luma
    ),
    hashes AS MATERIALIZED (
        SELECT doc_id, string_agg(bit, '' ORDER BY i, j) AS bits
        FROM bits GROUP BY doc_id
    )
"""

QUERIES["dedup_image_hamming_pairs"] = dedup_image_hamming_pairs
ORACLE["dedup_image_hamming_pairs"] = f"""
    WITH {_AHASH_BITS_CTE},
    groups AS MATERIALIZED ({clone_groups_sql("hashes", "doc_id", "bits")})
    SELECT a.rep_id AS rep_a, b.rep_id AS rep_b,
           a.n AS n_docs_a, b.n AS n_docs_b,
           CAST(list_sum([CASE WHEN substr(a.bits, i, 1) = substr(b.bits, i, 1)
                               THEN 0 ELSE 1 END
                          for i in range(1, 65)]) AS BIGINT) AS hamming
    FROM groups a JOIN groups b ON a.rep_id < b.rep_id
    WHERE list_sum([CASE WHEN substr(a.bits, i, 1) = substr(b.bits, i, 1)
                         THEN 0 ELSE 1 END
                    for i in range(1, 65)]) <= {HAM_T}
    ORDER BY rep_a, rep_b
"""
