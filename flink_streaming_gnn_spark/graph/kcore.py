"""k-core extraction on the supplier co-order projection (SURVEY.md §2B
graph ops; the standard density filter a graph pipeline runs before
expensive per-vertex work — the reference's A10 iteration head/tail is the
dataflow shape this driver loop re-expresses).

Algorithm: iterative peeling — drop every vertex with degree < K, re-derive
degrees on the induced subgraph, repeat to fixpoint. Each round is one
hash aggregate (degrees) joined onto both endpoints of every directed
edge, then a filter, all shuffling on the same vertex key so consecutive
rounds reuse the partitioning. ``truncate.iterate`` runs the rounds and
reads the edges a round drops, counted below the filter. Rounds are the
peeling depth + 1, uncapped (an n-vertex path peels one vertex from
each end per round: about n/2 rounds).

Round-2 upgrade: EXACT oracle via mechanically-unrolled peel rounds
(``truncate.unroll``), ORACLE_ROUNDS deep; its guard raises if the last
round still dropped an edge (K = 5 peels nothing at sf0.01 and sf0.1;
equality vs a sequential peeling reference stays pinned in
tests/test_new_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import SUPPLIER_PAIRS_CTE, supplier_edges
from flink_streaming_gnn_spark.plans import truncate

K = 5


@truncate.release_superseded_checkpoints
def kcore_vertices(spark: SparkSession, sf_dir: str, k: int = K) -> DataFrame:
    """Vertices of the k-core with their degree inside the core."""
    e = supplier_edges(spark, sf_dir)
    cur = (
        e.select(F.col("a").alias("v"), F.col("b").alias("o"))
        .union(e.select(F.col("b").alias("v"), F.col("a").alias("o")))
        .localCheckpoint()
    )

    def peel(cur, observe):
        deg = cur.groupBy("v").agg(F.count("*").alias("deg"))
        return (
            observe(
                cur.join(deg, "v").join(
                    deg.select(F.col("v").alias("o"), F.col("deg").alias("o_deg")), "o"
                ),
                F.count_if((F.col("deg") < k) | (F.col("o_deg") < k)),
            )
            .filter((F.col("deg") >= k) & (F.col("o_deg") >= k))
            .select("v", "o")
        )

    core = truncate.iterate(cur, peel)
    return core.groupBy("v").agg(F.count("*").cast("long").alias("core_deg"))


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_vertices(spark, sf_dir).orderBy("v")


ORACLE_ROUNDS = 10


def _kcore_oracle_sql(k: int = K, rounds: int = ORACLE_ROUNDS) -> str:
    # each round references its predecessor (and keep{r}) TWICE; DuckDB
    # inlines un-materialized CTEs per reference, so the plan doubles per
    # round (2^rounds base scans — manifested as fd exhaustion at round
    # 10). AS MATERIALIZED pins every round to ONE evaluation.
    chain = truncate.unroll(
        f"""{SUPPLIER_PAIRS_CTE},
        e0 AS MATERIALIZED (
            SELECT a AS v, b AS o FROM pairs
            UNION ALL SELECT b AS v, a AS o FROM pairs
        )""",
        lambda r: f"""keep{r} AS MATERIALIZED (
            SELECT v FROM (SELECT v, count(*) AS deg FROM e{r - 1} GROUP BY v)
            WHERE deg >= {k}
        ),
        e{r} AS MATERIALIZED (
            SELECT e.v, e.o FROM e{r - 1} e
            WHERE e.v IN (SELECT v FROM keep{r})
              AND e.o IN (SELECT v FROM keep{r})
        )""",
        rounds,
        fixpoint="e{r}",
    )
    return f"""
        WITH {chain}
        SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS core_deg
        FROM e{rounds}
        WHERE {truncate.converged("e{r}", rounds)}
        GROUP BY v
        ORDER BY v
    """


QUERIES = {"graph_kcore": graph_kcore}
ORACLE = {"graph_kcore": _kcore_oracle_sql()}
