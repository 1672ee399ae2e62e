"""Seed-set closeness / harmonic centrality — multi-source BFS with
bitset-compressed seed sets (SURVEY.md §2 graph tier; the per-seed
companion of ``graph/bfs.py``'s min-hop levels, answering "how central
is each landmark?" instead of "how far is everything from the landmark
set?").

Spark-first shape (round-8 rewrite — the ×100 probe caught the old
one): the round-3 implementation carried the BFS state as explicit
(seed, vertex) ROWS, so state was |seeds|·|V| rows and each hop's
frontier ⋈ edges emitted Σ_frontier deg(v) rows PER SEED — ~72 billion
join-emit rows at ×100 (3 000 seeds × 1.2 M-customer frontier × deg 20),
which local mode survives only when memory pressure cooperates
(tools/probe_r8_x100.log at 16bffd4: one run died at 186 s, the rerun
passed at 446 s — no task retries in local mode, so one pressure-induced
task failure kills the job). This version is the textbook MS-BFS (Then et
al., "The More the Merrier: Efficient Multi-Source BFS", VLDB 2014),
relationalized:

* Seeds get dense indices; the BFS state is one row per (vertex,
  word-index) carrying a 64-seed LONG BITMASK — |V|·⌈seeds/64⌉ rows
  instead of |V|·|seeds|.
* A hop is: frontier ⋈ edges (emit ≤ |E|·⌈seeds/64⌉ rows — linear in
  the EDGE COUNT, not in seeds×edges), then one ``bit_or`` hash
  aggregate per (vertex, word) — partial aggregation collapses the
  emit map-side, so the shuffle after combine is |V|·words rows.
* Newly-discovered bits are ``reach & ~seen``; per-hop per-seed
  discovery COUNTS come from a bit-explode + 1024-group aggregate
  (map-side combinable to ≤ |seeds| rows per task), read to the driver
  as ≤ |seeds| rows per hop — the bounded-summary-read discipline.
  n_reached / sum_dist are exact integer accumulations over ≤ MAX_HOPS
  such reads; closeness and harmonic are derived JVM-side at the end.
* ``LANDMARK_CAP`` makes the landmark budget CONSTANT (the round-3
  docstring promised "at 100 TB you would cap |seeds|"; now the code
  does): the smallest ``LANDMARK_CAP`` eligible seed ids, so word
  count is ≤ 16 and per-hop emit is ≤ 16·|E| forever. Below the cap
  (every fixture and the ×10 corpus) the seed set is byte-identical to
  the old contract, so all prior attestations' semantics are unchanged;
  the cap binds only at ×100+.

The DuckDB oracle is the same recursive CTE over (seed, vertex, depth)
states as round 3 (plus the LIMIT for the cap), so the driver
hash-matches the entire iterative computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints

MAX_HOPS = 6
SEED_MOD = 1000  # a % 1000 == 0 in 2c-space ⇔ c_custkey % 500 == 0
LANDMARK_CAP = 1024  # constant landmark budget → ≤16 bitmask words


_EXPLODE_BITS = (
    "explode(filter(transform(sequence(0, 63),"
    " k -> IF(((word >> k) & 1) = 1, k, CAST(NULL AS INT))),"
    " x -> x IS NOT NULL))"
)


@release_superseded_checkpoints
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed: vertices reached within MAX_HOPS, total hop distance,
    closeness (reached/sum_dist) and harmonic centrality (Σ 1/d)."""
    pairs = bipartite_pairs(derive_edges(spark, sf_dir))
    edges = both_directions(pairs).localCheckpoint()
    seed_ids = [
        r["a"]
        for r in (
            edges.select("a")
            .distinct()
            .filter((F.col("a") % SEED_MOD) == 0)
            .orderBy("a")
            .limit(LANDMARK_CAP)  # constant landmark budget (docstring)
            .collect()  # ≤ LANDMARK_CAP rows — bounded driver read
        )
    ]
    if not seed_ids:
        return spark.createDataFrame(
            [],
            schema=(
                "s long, n_reached long, sum_dist long,"
                " closeness double, harmonic double"
            ),
        )
    # dense seed index i → (word idx, bit); shiftleft handles bit 63's
    # sign wrap JVM-side (Python 1 << 63 overflows a signed long)
    seed_bits = spark.createDataFrame(
        [(s, i // 64, i % 64) for i, s in enumerate(seed_ids)],
        schema="v long, idx int, bit int",
    ).select(
        "v",
        "idx",
        F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("word"),
    )
    # seen/frontier: one row per (vertex, word) with a 64-seed bitmask;
    # localCheckpoint per hop — both are referenced twice per round
    # (join + anti-mask + union), the bfs.py lineage discipline
    seen = seed_bits.localCheckpoint()
    frontier = seen
    n_reached = [0] * len(seed_ids)
    sum_dist = [0] * len(seed_ids)
    harmonic = [0.0] * len(seed_ids)
    for hop in range(1, MAX_HOPS + 1):
        reach = (
            frontier.join(edges, frontier.v == edges.a)
            .select(F.col("b").alias("v"), "idx", "word")
            .groupBy("v", "idx")  # bit_or partial-aggregates map-side,
            .agg(F.bit_or("word").alias("word"))  # shuffle ≈ |V|·words
        )
        new = (
            reach.join(
                seen.withColumnRenamed("word", "seen_word"),
                ["v", "idx"],
                "left",
            )
            .select(
                "v",
                "idx",
                F.col("word")
                .bitwiseAND(
                    F.bitwise_not(
                        F.coalesce("seen_word", F.lit(0).cast("long"))
                    )
                )
                .alias("word"),
            )
            .filter(F.col("word") != 0)
            .localCheckpoint()
        )
        # per-seed discovery counts this hop: ≤ |seeds| rows (the
        # convergence read too — empty ⇒ frontier exhausted)
        counts = (
            new.select("idx", F.expr(_EXPLODE_BITS).alias("k"))
            .groupBy((F.col("idx") * 64 + F.col("k")).alias("si"))
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        )
        if not counts:
            break
        for r in counts:
            si, n = r["si"], r["n"]
            n_reached[si] += n
            sum_dist[si] += hop * n
            harmonic[si] += n / hop  # fixed hop-ascending order
        seen = (
            seen.union(new)
            .groupBy("v", "idx")
            .agg(F.bit_or("word").alias("word"))
            .localCheckpoint()
        )
        frontier = new
    rows = [
        (seed_ids[i], n_reached[i], sum_dist[i], harmonic[i])
        for i in range(len(seed_ids))
        if n_reached[i] > 0
    ]
    # rounding + the closeness division stay JVM-side (F.round is
    # HALF_UP like the DuckDB oracle's round; n/sum_dist from exact
    # ints is the identical correctly-rounded double in both engines)
    return (
        spark.createDataFrame(
            rows, schema="s long, n_reached long, sum_dist long, h double"
        )
        .select(
            "s",
            "n_reached",
            "sum_dist",
            F.round(F.col("n_reached") / F.col("sum_dist"), 6).alias(
                "closeness"
            ),
            F.round("h", 6).alias("harmonic"),
        )
    )


QUERIES = {"graph_closeness_centrality": graph_closeness_centrality}

ORACLE = {
    "graph_closeness_centrality": f"""
        WITH RECURSIVE {BIPARTITE_PAIRS_CTE},
        ue AS (SELECT a, b FROM bipartite UNION ALL SELECT b, a FROM bipartite),
        seeds AS (
            SELECT s FROM (
                SELECT DISTINCT a AS s FROM ue WHERE a % {SEED_MOD} = 0
            ) ORDER BY s LIMIT {LANDMARK_CAP}
        ),
        bfs(s, v, d) AS (
            SELECT s, s, 0 FROM seeds
            UNION
            SELECT bfs.s, ue.b, bfs.d + 1
            FROM bfs JOIN ue ON ue.a = bfs.v
            WHERE bfs.d < {MAX_HOPS}
        ),
        dist AS (SELECT s, v, min(d) AS d FROM bfs GROUP BY s, v),
        -- per-hop integer counts first, harmonic from the SAME (hop, n)
        -- summary the Spark driver folds (n·(1/d) terms summed in
        -- hop-ascending order): identical doubles added in identical
        -- order are bit-identical, so the 6-dp round can never straddle
        -- a boundary between engines (ADVICE r8 — the per-vertex
        -- 1/d-in-scan-order sum drifted ~1e-8 per 1e6 reached)
        hc AS (
            SELECT s, d, count(*) AS n FROM dist WHERE d > 0 GROUP BY s, d
        )
        SELECT CAST(s AS BIGINT) AS s,
               CAST(sum(n) AS BIGINT) AS n_reached,
               CAST(sum(d * n) AS BIGINT) AS sum_dist,
               round(sum(n) * 1.0 / sum(d * n), 6) AS closeness,
               round(sum(n * 1.0 / d ORDER BY d), 6) AS harmonic
        FROM hc GROUP BY s
    """,
}
