"""Multi-source BFS hop levels over the derived bipartite graph — the
third iterative graph operator (with components and PageRank), and the one
whose fixpoint IS exactly SQL-expressible: the DuckDB oracle is a
recursive CTE, so the driver hash-matches the whole iterative computation
(unlike components' |V|²-reachability blowup, BFS states are bounded by
|V| × max_hops).

Spark-first shape: classic frontier expansion over one ``levels`` frame
whose ``frontier`` flag marks the last hop's vertices. Each hop is one
join (frontier ⋈ edges — the frontier side shrinks every round) + one
min-level aggregate over ``levels`` ∪ the reached vertices, both keyed
on vertex id. ``truncate.iterate`` checkpoints it once per hop and reads
the new frontier's size, never rows, stopping when it is 0.
Hops are capped (MAX_HOPS) identically in both engines, so results
agree even on graphs wider than the cap.

Seed set: customers with c_custkey % 50 == 0 (deterministic, scale-stable
density) in the disjoint 2c / 2s+1 vertex-id space of graph/edges.py.
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
from flink_streaming_gnn_spark.plans import truncate

MAX_HOPS = 8


@truncate.release_superseded_checkpoints
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex minimum hop distance from the seed set (≤ MAX_HOPS)."""
    pairs = bipartite_pairs(derive_edges(spark, sf_dir))
    edges = both_directions(pairs).localCheckpoint()
    levels = (
        edges.select("a")
        .distinct()
        .filter((F.col("a") % 100) == 0)  # a = 2c even ⇒ c % 50 == 0
        .select(
            F.col("a").alias("v"),
            F.lit(0).alias("level"),
            F.lit(True).alias("frontier"),
        )
        .localCheckpoint()
    )

    def hop(levels, observe):
        reached = (
            levels.filter("frontier")
            .join(edges, levels.v == edges.a)
            .select(
                F.col("b").alias("v"),
                (F.col("level") + 1).alias("level"),
                F.lit(True).alias("frontier"),
            )
        )
        # a vertex seen before keeps its level and leaves the frontier
        return observe(
            levels.withColumn("frontier", F.lit(False))
            .union(reached)
            .groupBy("v")
            .agg(F.min("level").alias("level"), F.min("frontier").alias("frontier")),
            F.count_if("frontier"),
        )

    return truncate.iterate(levels, hop, MAX_HOPS).select(
        F.col("v").cast("long").alias("v"), F.col("level").cast("long").alias("level")
    )


QUERIES = {"graph_bfs_levels": graph_bfs_levels}

ORACLE = {
    "graph_bfs_levels": f"""
        WITH RECURSIVE {BIPARTITE_PAIRS_CTE},
        ue AS (SELECT a, b FROM bipartite UNION ALL SELECT b, a FROM bipartite),
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
