"""Multi-source BFS hop levels over the derived bipartite graph — the
third iterative graph operator (with components and PageRank), and the one
whose fixpoint IS exactly SQL-expressible: the DuckDB oracle is a
recursive CTE, so the driver hash-matches the whole iterative computation
(unlike components' |V|²-reachability blowup, BFS states are bounded by
|V| × max_hops).

Spark-first shape: classic frontier expansion. Each hop is one join
(frontier ⋈ edges — the frontier side shrinks every round) + one distinct
+ one anti-join against the visited set; all three shuffle on vertex id,
so consecutive hops reuse the partitioning. The driver reads only the
frontier COUNT per round, observed on the frontier's checkpoint job, never
rows. Hops are capped (MAX_HOPS) identically in both engines, so results
agree even on graphs wider than the cap.

Seed set: customers with c_custkey % 50 == 0 (deterministic, scale-stable
density) in the disjoint 2c / 2s+1 vertex-id space of graph/edges.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    EDGES_CTE,
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints

MAX_HOPS = 8


@release_superseded_checkpoints
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex minimum hop distance from the seed set (≤ MAX_HOPS)."""
    pairs = bipartite_pairs(derive_edges(spark, sf_dir))
    edges = both_directions(pairs).localCheckpoint()
    seeds = (
        edges.select("a")
        .distinct()
        .filter((F.col("a") % 100) == 0)  # a = 2c even ⇒ c % 50 == 0
        .select(F.col("a").alias("v"))
    )
    # eager localCheckpoint per hop (not persist): levels is referenced
    # twice per round (visited anti-join + union), so checkpointing keeps
    # Catalyst's per-round analysis O(1) — see graph/components.py
    levels = seeds.withColumn("level", F.lit(0)).localCheckpoint()
    frontier = levels
    for hop in range(1, MAX_HOPS + 1):
        rows = Observation()
        nxt = (
            frontier.join(edges, frontier.v == edges.a)
            .select(F.col("b").alias("v"))
            .distinct()
            .join(levels, "v", "left_anti")
            .withColumn("level", F.lit(hop))
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        if rows.get["n"] == 0:
            break
        levels = levels.union(nxt).localCheckpoint()
        frontier = nxt
    # return the final checkpointed frame directly: it is already
    # lineage-free (localCheckpoint) and data-sized, so it must NEVER
    # round-trip through the driver (an O(|V|) collect is a driver OOM at
    # 100 TB); intermediate round frames go out of scope here and the
    # ContextCleaner reclaims their blocks without materializing anything
    return levels.select(
        F.col("v").cast("long").alias("v"), F.col("level").cast("long").alias("level")
    )


QUERIES = {"graph_bfs_levels": graph_bfs_levels}

ORACLE = {
    "graph_bfs_levels": f"""
        WITH RECURSIVE {EDGES_CTE},
        de AS (SELECT DISTINCT src * 2 AS a, dst * 2 + 1 AS b FROM edges),
        ue AS (SELECT a, b FROM de UNION ALL SELECT b, a FROM de),
        seeds AS (SELECT DISTINCT a AS v FROM ue WHERE a % 100 = 0),
        bfs(v, lvl) AS (
            SELECT v, 0 FROM seeds
            UNION
            SELECT ue.b, bfs.lvl + 1
            FROM bfs JOIN ue ON ue.a = bfs.v
            WHERE bfs.lvl < {MAX_HOPS}
        )
        SELECT CAST(v AS BIGINT) AS v, CAST(min(lvl) AS BIGINT) AS level
        FROM bfs GROUP BY v
    """,
}
