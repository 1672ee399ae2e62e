"""Katz centrality — completes the centrality family next to degree,
PageRank, and HITS (SURVEY.md §2B graph ops): unlike PageRank's
random-surfer normalization, Katz counts ALL walks into a vertex,
attenuated by length:

    c = Σ_{k≥1} α^k · (Aᵀ)^k · 1    (truncated at ROUNDS terms)

computed by the same fixed-round power-iteration shape as
``graph/pagerank.py``: per round one join (walk counts onto edges) + one
hash aggregate (sum per destination), both shuffling on vertex id so
consecutive rounds reuse the partitioning; the running Katz sum
accumulates as a zero-shuffle column add. α = 0.1 is well under the
1/λ_max convergence bound for this graph (checked by the numpy parity
test).

Determinism: float sums are partition-order dependent in the last ulp →
rows-only key rounded to 6 dp; exactness vs a numpy reference (same
truncation) is pinned in tests/test_round2c.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans import truncate

ALPHA = 0.1
ROUNDS = 6


@truncate.release_superseded_checkpoints
def katz_scores(spark: SparkSession, sf_dir: str, rounds: int = ROUNDS) -> DataFrame:
    e = derive_vertex_embeddings(spark, sf_dir).distinct().localCheckpoint()

    # walk[k](v) = number of length-k walks ending at v, attenuated: the
    # per-round carrier; katz accumulates the series
    def step(state, observe):
        stepped = (
            e.join(state, e.src_v == state.v)
            .select(F.col("dst_v").alias("b"), (F.col("walk") * ALPHA).alias("w"))
            .groupBy("b")
            .agg(F.sum("w").alias("new_walk"))
        )
        return state.join(stepped, state.v == stepped.b, "left").select(
            "v",
            F.coalesce("new_walk", F.lit(0.0)).alias("walk"),
            (F.col("katz") + F.coalesce("new_walk", F.lit(0.0))).alias("katz"),
        )

    state = (
        e.select(F.col("src_v").alias("v"))
        .union(e.select(F.col("dst_v").alias("v")))
        .distinct()
        .select("v", F.lit(1.0).alias("walk"), F.lit(0.0).alias("katz"))
        .localCheckpoint()
    )
    return truncate.iterate(state, step, rounds).select("v", "katz")


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return katz_scores(spark, sf_dir).select(
        F.col("v").alias("vertex"), F.round("katz", 6).alias("katz")
    )


def _katz_oracle_sql(rounds: int = ROUNDS) -> str:
    """Round-2 upgrade from rows-only: mechanically-unrolled attenuated
    walk accumulation, every CTE MATERIALIZED (each round references the
    previous state twice — inlining would double the plan per round).
    Scores differ from Spark's only in last-ulp sum order; round-6 is
    stable."""
    chain = truncate.unroll(
        f"""{EDGES_V_CTE},
        e AS MATERIALIZED (SELECT DISTINCT src_v, dst_v FROM edges_v),
        verts AS MATERIALIZED (
            SELECT src_v AS v FROM e UNION SELECT dst_v AS v FROM e
        ),
        s0 AS MATERIALIZED (
            SELECT v, 1.0 AS walk, 0.0 AS katz FROM verts
        )""",
        lambda r: f"""step{r} AS MATERIALIZED (
            SELECT e.dst_v AS b, sum(s.walk * {ALPHA}) AS nw
            FROM e JOIN s{r - 1} s ON s.v = e.src_v
            GROUP BY e.dst_v
        ),
        s{r} AS MATERIALIZED (
            SELECT s.v,
                   COALESCE(st.nw, 0.0) AS walk,
                   s.katz + COALESCE(st.nw, 0.0) AS katz
            FROM s{r - 1} s LEFT JOIN step{r} st ON st.b = s.v
        )""",
        rounds,
    )
    return f"""
        WITH {chain}
        SELECT CAST(v AS BIGINT) AS vertex, round(katz, 6) AS katz
        FROM s{rounds}
    """


QUERIES = {"graph_katz_centrality": graph_katz_centrality}
ORACLE = {"graph_katz_centrality": _katz_oracle_sql()}
