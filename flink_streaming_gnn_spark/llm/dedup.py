"""Deduplication operators over ``documents`` (SURVEY.md §2B LLM rows).

Five tiers, each one rung up the recall/cost ladder:
- exact        — hash groupBy on the raw text (one shuffle)
- ngram_jaccard— MinHash/LSH candidates → exact trigram-Jaccard verify
- simhash      — 64-bit bitwise fingerprint, hamming-ball candidates
- minhash      — MinHashLSH (pyspark.ml), probabilistic Jaccard buckets
- embedding    — cosine near-dup over the vector column

Blocking discipline (100 TB posture): no operator here ever materializes
the full document cross product; candidates always come from an equi-join
on a blocking key. The near-dup keys run on the kit in ``llm.neardup``
(clone collapse, band join, group-output contract, shingles and their
DuckDB twins) and keep only their feature, bands and verify here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import cosine_sql, dot_expr
from flink_streaming_gnn_spark.graph.components import hash_min_cc
from flink_streaming_gnn_spark.graph.edges import both_directions
from flink_streaming_gnn_spark.llm.neardup import (
    band_pairs,
    clone_groups,
    clone_groups_sql,
    clone_members,
    group_pairs,
    group_pairs_sql,
    keyed_texts,
    shingle_sets,
    shingle_sets_sql,
    shingles,
    shingles_sql,
)
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: canonical (min) doc_id + multiplicity per
    distinct text. One hash aggregation; at scale, group on
    ``xxhash64(text)`` first to shrink shuffle payload (the raw text only
    travels for hash-colliding groups)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("canonical_id"),
        F.count("*").cast("long").alias("n_copies"),
    )


def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale variant of dedup_exact: dedup on a 64-bit content hash so the
    shuffle moves 8-byte keys, not documents. Output: survivors only."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("h", F.xxhash64("text"))
        .groupBy("h")
        .agg(F.min("doc_id").cast("long").alias("doc_id"), F.count("*").cast("long").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


N_MINHASH = 16  # OR-ed single-row bands: P(miss) = (1-j)^16


def minhash_candidate_pairs(d: DataFrame) -> DataFrame:
    """LSH-banded candidate pairs (doc_a < doc_b) over the SHINGLE sets the
    verify stage scores — hand-rolled, 100% JVM (no pyspark.ml fit, no
    sparse vectors): per doc, 16 min-hashes ``min_s xxhash64(k ':' s)`` in
    ONE hash agg over the exploded shingles; candidates = ``band_pairs``
    on any matching (band, signature). This is THE candidate generator for
    every near-dup verify stage — cost ∝ docs sharing a bucket, never a
    quadratic within-block pair join. ``d`` needs (doc_id, sh).

    Minhashing the shingles (not unigrams) matters twice: the collision
    probability equals the exact Jaccard the verify stage computes, and
    shingle sets stay diverse even when the unigram vocabulary saturates
    (every doc sharing most words would put the whole corpus in one
    unigram bucket). With 16 OR-ed bands a true pair at j ≥ 0.5 is missed
    with probability ≤ 2^-16; xxhash64 is seeded per band, so the result
    is deterministic per dataset."""
    ex = d.select("doc_id", F.explode("sh").alias("s"))
    sigs = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.concat(F.lit(f"{k}:"), F.col("s")))).alias(f"m{k}")
            for k in range(N_MINHASH)
        ]
    )
    bands = [F.col(f"m{k}") for k in range(N_MINHASH)]
    return band_pairs(sigs, "doc_id", bands).toDF("doc_a", "doc_b")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verify stage: exact token-trigram Jaccard ≥ 0.5, computed
    only on candidate pairs from the MinHash/LSH band join
    (minhash_candidate_pairs) — the production candidate→verify pipeline.

    Round 1 blocked on (lang, n_chars), which is quadratic in the hottest
    block and misses near-dups that differ in length; LSH candidates are
    the 100 TB answer (VERDICT round 1, next-round #4). With 16 OR-ed
    shingle-minhash bands a qualifying pair (j ≥ 0.5) is missed with
    probability ≤ 2^-16, and the seeded hash family makes the candidate
    set deterministic per dataset, so the exact-SQL oracle (which verifies
    ALL pairs) still hash-matches.

    Exact clones are collapsed first (``llm.neardup``) and the output is
    expanded back to the full doc-level pair list: clones share their
    representative's shingle set, so a cross-group clone pair inherits its
    representatives' Jaccard verbatim and a within-group pair is
    identically 1.0. On a corpus with heavy exact replication this cuts
    the expensive stage quadratically (sf1 scale probe: 64 s → seconds)
    while emitting the identical pair table."""
    keyed = keyed_texts(spark, sf_dir, min_tokens=3)
    members, reps = clone_members(keyed, clone_groups(keyed, "doc_id", "th"), "doc_id", "th")
    rep_pairs = _near_dup_pairs(reps)
    m_a = members.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("da"))
    m_b = members.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(m_a, "doc_a")
        .join(m_b, "doc_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def _near_dup_pairs(d: DataFrame) -> DataFrame:
    """candidates (shingle-minhash bands) → exact trigram-Jaccard ≥ 0.5
    verify, over any (doc_id, text) frame (docs of fewer than 3 tokens
    drop out). Returns (doc_a, doc_b, jaccard)."""
    # pinned once: referenced 3× below (candidate generation + both
    # verify sides), and every caller passes a clone-collapsed rep-level
    # frame — bounded by DISTINCT content, while the unpinned lineage
    # would re-run the corpus scan + hash-group + shingle build per
    # reference (the dedup_containment ×10 lesson)
    d = shingle_sets(d, "doc_id", 3).localCheckpoint()
    cands = minhash_candidate_pairs(d)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document, fully JVM-side: hash each
    distinct token, then per bit position sum(+1/−1) over tokens and take
    the sign. Identical texts get identical fingerprints; near-dups land
    within a small hamming ball (candidates = equal fingerprint or banded
    prefixes).

    Round-2 upgrade from rows-only: the token hash is the first 64 bits of
    ``md5`` (engine-neutral — the original xxhash64 had no DuckDB twin;
    SimHash only needs A uniform hash, not a specific one), decoded nibble
    by nibble (hex digit k, bit j), and the fingerprint is emitted as a
    16-char hex string (no 64-bit sign-bit overflow games in either
    engine). Exactly oracle-checked; hamming-ball properties stay pinned
    in tests."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    ).withColumn("hx", F.md5("t"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(
                    F.conv(F.substring("hx", k, 1), 16, 10).cast("int"), j
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{k}_{j}")
        for k in range(1, 17)
        for j in range(4)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    def _nibble(k: int) -> F.Column:
        val = sum(
            (
                F.when(F.col(f"s{k}_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(1, 4)
            ),
            F.when(F.col(f"s{k}_0") > 0, F.lit(1)).otherwise(F.lit(0)),
        )
        return F.lower(F.conv(val.cast("string"), 10, 16))

    return per_doc.select(
        "doc_id", F.concat(*[_nibble(k) for k in range(1, 17)]).alias("simhash")
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (shingle-Jaccard distance
    ≤ 0.5) via pyspark.ml: HashingTF over token-TRIGRAM shingle sets →
    MinHashLSH(seed) → approxSimilarityJoin. The LSH band/bucket join is
    the 100 TB path — candidates are generated by equi-join on band
    hashes, never by pairwise comparison.

    Shingles, not unigram tokens, for the same reason as
    ``minhash_candidate_pairs``: a corpus whose vocabulary saturates
    (every doc contains most words — true of any corpus much larger than
    its vocabulary) puts ALL documents in the same unigram buckets, and
    the "candidate" join degenerates to the full cross product (observed
    as a crash at the sf1 scale probe). Shingle sets stay diverse, so
    bucket sizes track true near-duplicates.

    Exact clones are collapsed and the output kept at group level
    (``llm.neardup``), after the round-6 ×10 probe caught the doc-level
    formulation CRASHING on the clone-heavy corpus: identical texts share
    identical minhash signatures, hence the same bucket in every hash
    table, so ``approxSimilarityJoin`` over raw doc_ids emitted every
    within-clone-group pair with its 2^18-dim feature vectors attached,
    which lost executors at ×10 (500k docs, ×100 clones). The self rows
    carry jaccard_dist=0.0. Rows-only (randomized family; recall of
    planted exact dups asserted in tests via the group self rows)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    keyed = keyed_texts(spark, sf_dir, min_tokens=3)
    # reps referenced by featurize + both join sides
    groups = clone_groups(keyed, "doc_id", "th").localCheckpoint()
    d = shingle_sets(clone_members(keyed, groups, "doc_id", "th")[1], "doc_id", 3)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(d).localCheckpoint()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    rep_pairs = pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("group_a"),
        F.col("datasetB.doc_id").alias("group_b"),
        F.round("jaccard_dist", 4).alias("jaccard_dist"),
    )
    return group_pairs(rep_pairs, groups, "jaccard_dist", 0.0)


# Resident-memory guard for one embedding candidate block (VERDICT r6
# "What's wrong" #2): `applyInPandas` has ALREADY materialized the whole
# block in the Python worker by the time our code runs, so the true bound
# is the block size itself — the analogue of triangles.DENSE_V_BOUND, made
# explicit instead of a silent OOM. 2^28 floats ≈ 1 GiB float32 (e.g.
# 350k reps at d=768); peak is ~2 blocks during the stack (object column
# + matrix), 1 block after the object column is dropped, + a ≤ 32Mi-score
# slab. The blocking key (label here; a coarse quantizer cell at 100 TB)
# MUST bound cells under this — the guard turns a skewed cell into a
# actionable error naming the fix rather than an executor loss.
EMB_BLOCK_FLOATS_BOUND = 1 << 28


def _make_gram_candidates():
    """Factory returning the gram-candidate kernel. The indirection is
    load-bearing: the kernel ships to Python workers inside an
    ``applyInPandas`` lambda, and a plain module-level function would be
    cloudpickled BY REFERENCE (module + qualname) — workers driven from
    a foreign cwd then die with ModuleNotFoundError because the package
    isn't on their import path (the driver contract's documented
    pickle-by-value rule). A factory-local def has a non-importable
    qualname, so cloudpickle serializes it (and any lambda referencing
    it) by value, while the module-level alias below keeps the kernel
    directly pytest-testable."""

    def _gram_candidates(
        pdf,
        threshold,
        floats_bound=EMB_BLOCK_FLOATS_BOUND,
        slab_scores=1 << 25,
    ):
        """One label/cell block of representatives → candidate id pairs
        with row-normalized float32 gram cosine ≥ ``threshold``.
        Upper-triangle slabs of ≤ ``slab_scores`` scores (32Mi default —
        more reps only adds slab iterations, never footprint; the
        parameter is a test seam for forcing the multi-slab path on
        small fixtures); the full-block residency is asserted ≤
        ``floats_bound`` n·d floats, the float32 matrix is filled
        row-by-row (never a full float64 ``np.stack`` transient), and
        the Arrow object column is freed before the score loop so the
        float32 matrix is the only full-block copy that remains."""
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        embs = pdf["embedding"].to_numpy()
        n = len(ids)
        d = len(embs[0]) if n else 0
        if n * d > floats_bound:
            raise ValueError(
                f"embedding block exceeds per-task residency bound: n={n}"
                f" reps × d={d} = {n * d} floats > {floats_bound}; refine"
                " the blocking key (label → coarser quantizer cell) so"
                " every cell fits one task"
            )
        del pdf  # free the pandas block; `embs` keeps the per-row arrays
        if n == 0:
            return pd.DataFrame(
                {"vec_a": np.empty(0, np.int64), "vec_b": np.empty(0, np.int64)}
            )
        x = np.empty((n, d), dtype=np.float32)
        for i in range(n):  # per-row cast: no n×d float64 intermediate
            x[i] = embs[i]
        del embs  # matrix built — drop the object-array copy pre-loop
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
        out_a, out_b = [], []
        # scores-based slab: block·n ≤ slab_scores at ANY n the residency
        # bound admits (a 16-row floor broke the invariant 8× over for
        # huge-n/small-d cells); floor of one row
        block = max(1, slab_scores // n)
        for s in range(0, n, block):
            # upper-triangle slab only: pairs with group_a < group_b
            # under the sorted rep ids — half the arithmetic
            sc = x[s : s + block] @ x[s:].T
            ia, ib = np.nonzero(sc >= np.float32(threshold))
            keep = ia < ib
            out_a.append(ids[ia[keep] + s])
            out_b.append(ids[ib[keep] + s])
        return pd.DataFrame(
            {
                "vec_a": (
                    np.concatenate(out_a) if out_a else np.empty(0, np.int64)
                ),
                "vec_b": (
                    np.concatenate(out_b) if out_b else np.empty(0, np.int64)
                ),
            }
        )

    return _gram_candidates


_gram_candidates = _make_gram_candidates()


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dups at GROUP granularity: one row per pair
    of identical-embedding groups (same label, cosine ≥ 0.9, group keyed
    by its min-vec_id representative) with both member counts, plus one
    cos=1.0 self row per group of size ≥ 2. Candidates are blocked by
    label (cheap proxy for an IVF/LSH bucket — at scale the blocking key
    is a coarse quantizer cell, see simsearch.py); the FINAL cosine of
    every emitted pair is the JVM-side double-precision fold from
    functions.arrays.

    Round-6 rewrite, both halves forced by the ×10 probe (the round-2
    doc-level pair join was still grinding after an hour):

    * **exact-clone collapse + group contract** (``llm.neardup``): the
      replica corpus has 100 copies of every embedding, so doc-level
      output was 9.9M cos=1.0 rows whose enumeration, join and write WERE
      the runtime. The group key is (label, embedding); at 100 TB it
      would be a hash of the array, here the array itself is exact and
      groups in one hash agg.
    * **BLAS candidate stage + exact rescore**: per label block, an
      Arrow-batched ``applyInPandas`` (``_gram_candidates``) computes
      the representatives' row-normalized gram matrix in float32
      row-chunks (≤ 32Mi scores per slab; the full-block residency is
      asserted ≤ ``EMB_BLOCK_FLOATS_BOUND`` n·d floats — the blocking
      key must bound cells, enforced not assumed) and emits pairs with
      cos ≥ 0.9 − 1e-4; the JVM fold rescores just those candidates
      exactly and applies the exact threshold — the house
      candidates-from-cheap-tier + exact-rescore pattern, ~100× less
      arithmetic than folding the per-pair aggregate expression over
      every within-label pair."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    return _embedding_cosine_groups(e)


def _embedding_cosine_groups(e: DataFrame) -> DataFrame:
    """Pipeline core of dedup_embedding_cosine over an arbitrary
    ``(vec_id, label, embedding)`` frame — shared with the planted
    variant below so both keys exercise the identical group-collapse →
    BLAS-candidates → exact-rescore plan."""
    # referenced by candidates, rescore and sizes
    groups = clone_groups(e, "vec_id", "label", "embedding").localCheckpoint()
    reps = groups.select(
        F.col("rep_id").alias("vec_id"),
        "label",
        "embedding",
        F.sqrt(F.expr(dot_expr("embedding", "embedding"))).alias("norm"),
    )

    cands = (
        reps.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            lambda pdf: _gram_candidates(pdf, 0.9 - 1e-4),
            "vec_a long, vec_b long",
        )
    )
    a = reps.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = reps.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = F.expr(dot_expr("emb_a", "emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    rescored = (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.9)
        .select(
            F.col("vec_a").alias("group_a"),
            F.col("vec_b").alias("group_b"),
            F.round("cos", 4).alias("cos"),
        )
    )
    return group_pairs(rescored, groups, "cos", 1.0)


# dedup_embedding_cosine_planted: every PLANT_SEED_MOD-th vec_id seeds two
# deterministic plants. Offsets keep planted ids disjoint from real ones.
PLANT_SEED_MOD = 100
PLANT_CLONE_OFFSET = 10_000_000
PLANT_PARITY_OFFSET = 20_000_000


def dedup_embedding_cosine_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embedding_cosine with deterministic planted near-dups, so the
    oracle row is NON-vacuous at every fixture scale (VERDICT r7 "What's
    wrong" #1: the base key's green row at sf0.01 was 0 Spark rows = 0
    oracle rows — it proved only that both engines found nothing).

    For each seed row (``vec_id % PLANT_SEED_MOD == 0``) the query itself
    unions in two plants before running the exact same group-collapse →
    BLAS-candidate → exact-rescore pipeline:

    * an **exact clone** (same label, bit-identical embedding,
      vec_id + PLANT_CLONE_OFFSET) — collapses into the seed's
      (label, embedding) group, forcing n ≥ 2 and a cos = 1.0 self row;
    * a **parity near-dup** (vec_id + PLANT_PARITY_OFFSET): even
      0-indexed coordinates doubled, odd kept. Doubling is EXACT in
      float32 (mantissa unchanged), so both engines hold bit-identical
      planted vectors, and cos(x, y) = (1+t)/sqrt(1+3t) with
      t = (doubled-coordinate energy fraction) ∈ [0, 1] — minimized at
      t = 1/3 as 2√2/3 ≈ 0.9428, i.e. ALWAYS within [0.9428, 1]:
      above the 0.9 threshold by a margin no float32-candidate /
      exact-rescore disagreement can cross, below 1 whenever the seed
      has energy in both parities — a genuinely non-trivial cosine the
      hash match verifies end to end.

    Non-vacuous by construction: ≥ 1 self row and ≥ 1 cross row per
    seed, at any scale factor."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # Fail fast if real ids would collide with the planted id spaces
    # (ADVICE r8: at a scale where vec_ids reach PLANT_CLONE_OFFSET the
    # hash would stay green while the planted-pair semantics silently
    # degrade). O(1) driver read of a 1-row aggregate.
    max_id = e.agg(F.max("vec_id").alias("m")).first()["m"] or 0
    if max_id >= PLANT_CLONE_OFFSET:
        raise ValueError(
            f"max vec_id {max_id} >= PLANT_CLONE_OFFSET {PLANT_CLONE_OFFSET}: "
            "raise the plant offsets before running at this scale"
        )
    seeds = e.filter(F.col("vec_id") % PLANT_SEED_MOD == 0)
    clones = seeds.select(
        (F.col("vec_id") + PLANT_CLONE_OFFSET).alias("vec_id"),
        "label",
        "embedding",
    )
    parity = seeds.select(
        (F.col("vec_id") + PLANT_PARITY_OFFSET).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double")
                * F.when(i % 2 == 0, F.lit(2.0)).otherwise(F.lit(1.0))
            ).cast("float"),
        ).alias("embedding"),
    )
    return _embedding_cosine_groups(
        e.unionByName(clones).unionByName(parity)
    )


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step real pipelines need after pair generation: turn near-dup
    PAIRS into a deduplicated CORPUS. LSH candidates → exact trigram-Jaccard
    verify (≥ 0.5, the dedup_ngram_jaccard stage) → connected components
    over the dup graph → canonical doc per cluster (min doc_id) → full
    corpus mapping ``(doc_id, canonical_id, is_survivor)``; survivors are
    the deduplicated corpus.

    100 TB path, in pipeline order: (1) collapse EXACT duplicates first —
    one xxhash64 hash agg electing min-doc_id representatives, so the
    expensive near-dup stage sees each distinct text once (on a corpus
    with heavy exact replication this shrinks LSH+verify quadratically:
    the sf1 scale probe went 156 s → seconds); (2) LSH candidates → exact
    trigram-Jaccard verify over the representatives; (3) connected
    components over the representative dup graph (≪ corpus); (4) expand
    membership back through the exact-dup mapping with one broadcast-gated
    join over the corpus. Semantics are unchanged — exact clones share
    their representative's shingle set, so any connectivity through a
    clone exists through its representative, and cluster canonical = min
    doc_id either way — which is why the all-pairs recursive-CTE oracle
    still hash-matches.

    Scale of step (3): the dup graph is orders of magnitude smaller than
    the corpus (only docs that share an LSH bucket AND verify), so each
    ``hash_min_cc`` round shuffles pair-list-sized frames, never the
    corpus; near-dup clusters have tiny diameter (most are cliques), so
    the loop converges in 2-3 rounds.
    """
    keyed = keyed_texts(spark, sf_dir)
    rep_map, rep_docs = clone_members(keyed, clone_groups(keyed, "doc_id", "th"), "doc_id", "th")
    # checkpointed: hash_min_cc reads its edge frame four times, and each
    # read would rerun the LSH + verify plan
    pairs = _near_dup_pairs(rep_docs).select("doc_a", "doc_b").localCheckpoint()
    comp = hash_min_cc(both_directions(pairs.toDF("a", "b"))).toDF(
        "rep_id", "canonical"
    )
    out = (
        rep_map.join(maybe_broadcast(comp), "rep_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical", F.col("rep_id")).cast("long").alias("canonical_id"),
        )
        .withColumn("is_survivor", (F.col("canonical_id") == F.col("doc_id")))
    )
    # comp's lineage is already truncated (localCheckpoint per round), so
    # the returned plan is a corpus scan + broadcast-gated joins — no
    # driver collect anywhere (the mapping is corpus-sized at 100 TB).
    return out


def dedup_priority_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup — the multi-dataset curation rule: when
    a near-dup cluster spans sources, keep the doc from the MOST TRUSTED
    source (curated > crawled; here source priority = the numeric suffix
    of ``source``, lower = preferred), with doc_id as the final tiebreak.
    Same clusters as ``dedup_cluster_canonical`` (exact-hash collapse →
    LSH candidates → exact-Jaccard verify → CC), but the survivor
    election is an argmin over (source_rank, doc_id) ACROSS THE FULL
    expanded membership — an exact clone may carry a better source than
    its hash representative, so the election runs after expansion, as one
    ranking window on the corpus-sized mapping (one cluster_id exchange).

    Output: (doc_id, cluster_id, survivor_id, is_survivor)."""
    mapping = dedup_cluster_canonical(spark, sf_dir).select(
        "doc_id", F.col("canonical_id").alias("cluster_id")
    )
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("source", 4, 10).cast("long").alias("srank")
    )
    ranked = mapping.join(maybe_broadcast(src), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy("srank", "doc_id")
    surv = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("survivor_id"))
    )
    return (
        mapping.join(maybe_broadcast(surv), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
        )
    )


SPAN_N = 16  # repeated-span window (tokens)


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus repeated-substring detection (the span-level dedup of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, relationalized): every 16-token sliding span, hashed, grouped —
    spans appearing in ≥ 2 distinct documents are the memorization-prone
    cross-doc repeats a span-deduper would cut. Document-level dedup
    (exact/minhash/simhash tiers) misses these: two mostly-different pages
    sharing one boilerplate paragraph.

    Shape: one explode to (doc, span-hash) — stride 1, so ~n_tokens rows
    per doc — then ONE hash agg keyed on the 128-bit md5 (the span text
    itself never shuffles), then a HAVING filter. At 100 TB this is the
    same cost class as the tokenize/tf pipeline; the md5 keys are uniform,
    so the shuffle has no skew by construction."""
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= SPAN_N)
    )
    spans = d.select(
        "doc_id", F.explode(F.transform(shingles("toks", SPAN_N), F.md5)).alias("span_hash")
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_repeated_spans": dedup_repeated_spans,
    "dedup_exact_hash": dedup_exact_hash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_minhash": dedup_minhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_cosine_planted": dedup_embedding_cosine_planted,
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "dedup_priority_survivor": dedup_priority_survivor,
}

def _embedding_cosine_sql(source: str) -> str:
    """The embedding-cosine twin over the ``(vec_id, label, embedding)``
    relation ``source``: clone groups, all-pairs cosine within label."""
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
        WITH grp AS ({clone_groups_sql(source, "vec_id", "label", "embedding")}),
        rep_pairs AS (
            SELECT a.rep_id AS group_a, b.rep_id AS group_b,
                   round({cos}, 4) AS cos
            FROM grp a JOIN grp b
              ON a.label = b.label AND a.rep_id < b.rep_id
            WHERE {cos} >= 0.9
        )
        {group_pairs_sql("rep_pairs", "grp", "cos", "1.0")}
    """


# all doc pairs of trigram Jaccard ≥ 0.5 (unrounded), doc_a < doc_b: the
# ngram twin reads it as is; the cluster twins below read it both ways as
# the dup graph, and resolve clusters with a recursive-CTE reachability
# fixpoint — a hash match therefore proves LSH candidate recall AND the
# distributed CC loop agree with exact transitive closure on the fixture
_NEAR_CTE = f"""
        sh AS ({shingle_sets_sql("documents", "doc_id", 3)}),
        near AS MATERIALIZED (
            SELECT * FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                       AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.5
        )"""
_CLUSTER_CTE = f"""{_NEAR_CTE},
        pe AS (
            SELECT doc_a AS u, doc_b AS v FROM near
            UNION ALL
            SELECT doc_b, doc_a FROM near
        ),
        reach(node, lbl) AS (
            SELECT DISTINCT u, u FROM pe
            UNION
            SELECT pe.v, reach.lbl FROM reach JOIN pe ON pe.u = reach.node
        ),
        comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node)"""


def _simhash_oracle_sql() -> str:
    """Nibble-decoded md5 SimHash twin: hex digit k → strpos-1, bit j →
    shift+mask, ±1 sums, sign bits reassembled into the hex fingerprint."""
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(hx, {k}, 1)) - 1)"
        f" >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}_{j}"
        for k in range(1, 17)
        for j in range(4)
    )
    nibbles = " || ".join(
        "substr('0123456789abcdef', ("
        + " + ".join(
            f"(CASE WHEN s{k}_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
        )
        + ") + 1, 1)"
        for k in range(1, 17)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   md5(unnest(list_distinct(string_split(text, ' ')))) AS hx
            FROM documents
        ),
        sums AS (
            SELECT doc_id,
               {bit_sums}
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id, {nibbles} AS simhash
        FROM sums
    """


ORACLE = {
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_repeated_spans": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t
            FROM documents
            WHERE len(string_split(text, ' ')) >= {SPAN_N}
        ),
        spans AS (
            SELECT doc_id,
                   unnest(list_transform({shingles_sql("t", SPAN_N)}, x -> md5(x)))
                       AS span_hash
            FROM toks
        )
        SELECT span_hash,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM spans
        GROUP BY span_hash
        HAVING count(DISTINCT doc_id) >= 2
    """,
    "dedup_exact": """
        SELECT text,
               CAST(min(doc_id) AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY text
    """,
    "dedup_exact_hash": """
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY text
    """,
    # The oracle verifies ALL pairs (O(n²) is fine for DuckDB at oracle
    # scale); the Spark side only verifies LSH candidates — a hash-match
    # therefore also proves the candidate generator's recall is total on
    # the fixture's true near-dup pairs.
    "dedup_ngram_jaccard": f"""
        WITH {_NEAR_CTE}
        SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM near
    """,
    # group contract: identical-(label, embedding) groups, all-pairs
    # verify over representatives (no BLAS prefilter — the margin's
    # zero-miss property is cross-checked by the hash match)
    "dedup_embedding_cosine": _embedding_cosine_sql("embeddings"),
    # Planted variant: same all-pairs verify, over the union of the real
    # embeddings and the two deterministic plants per seed (exact clone +
    # parity-doubled near-dup; ×2 is exact in float32, so both engines
    # group and score bit-identical vectors). DuckDB lambda index i is
    # 1-based, Spark's is 0-based: `i % 2 = 1` here selects the same
    # physical positions as `i % 2 == 0` in the Spark query.
    "dedup_embedding_cosine_planted": _embedding_cosine_sql(f"""(
            SELECT vec_id, label, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {PLANT_CLONE_OFFSET}, label, embedding
            FROM embeddings WHERE vec_id % {PLANT_SEED_MOD} = 0
            UNION ALL
            SELECT vec_id + {PLANT_PARITY_OFFSET}, label,
                   list_transform(embedding, (x, i) ->
                       CAST(CAST(x AS DOUBLE)
                            * CASE WHEN i % 2 = 1 THEN 2 ELSE 1 END
                            AS FLOAT))
            FROM embeddings WHERE vec_id % {PLANT_SEED_MOD} = 0
        )"""),
    "dedup_cluster_canonical": f"""
        WITH RECURSIVE {_CLUSTER_CTE}
        SELECT d.doc_id,
               CAST(coalesce(c.canonical, d.doc_id) AS BIGINT) AS canonical_id,
               (coalesce(c.canonical, d.doc_id) = d.doc_id) AS is_survivor
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    "dedup_priority_survivor": f"""
        WITH RECURSIVE {_CLUSTER_CTE},
        full_map AS (
            SELECT d.doc_id,
                   CAST(coalesce(c.canonical, d.doc_id) AS BIGINT) AS cluster_id,
                   CAST(substr(d.source, 4, 10) AS BIGINT) AS srank
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        ),
        surv AS (
            SELECT cluster_id, doc_id AS survivor_id
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY cluster_id ORDER BY srank, doc_id
                       ) AS rn
                FROM full_map
            ) WHERE rn = 1
        )
        SELECT m.doc_id, m.cluster_id, s.survivor_id,
               m.doc_id = s.survivor_id AS is_survivor
        FROM full_map m JOIN surv s ON s.cluster_id = m.cluster_id
    """,
    # dedup_simhash, dedup_minhash: rows-only (engine-specific hashes /
    # randomized LSH family; invariants pinned in tests/test_llm.py)
}
