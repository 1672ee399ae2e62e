"""k-core extraction on the supplier co-order projection (SURVEY.md §2B
graph ops; the standard density filter a graph pipeline runs before
expensive per-vertex work — the reference's A10 iteration head/tail is the
dataflow shape this driver loop re-expresses).

Algorithm: iterative peeling — drop every vertex with degree < K, re-derive
degrees on the induced subgraph, repeat to fixpoint. Each round is one
hash aggregate (degrees) + two semi-joins (filter endpoints), all shuffling
on the same vertex key so consecutive rounds reuse the partitioning. The
fixpoint read is the round's row count, observed on the round's own
checkpoint job (no second job), like components.py; rounds are the
peeling depth + 1, uncapped (an n-vertex path peels one vertex from
each end per round: about n/2 rounds).

Round-2 upgrade: EXACT oracle via mechanically-unrolled peel rounds
(the LPA trick) — peeling is monotone, so once the fixpoint is reached
every further unrolled block is a no-op, and unrolling MORE rounds than
needed is harmless. ORACLE_ROUNDS=10 comfortably covers the fixture's
peeling depth (1–3 at verify scales; equality vs a sequential peeling
reference stays pinned in tests/test_new_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import SUPPLIER_PAIRS_CTE, supplier_edges
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints

K = 5


@release_superseded_checkpoints
def kcore_vertices(spark: SparkSession, sf_dir: str, k: int = K) -> DataFrame:
    """Vertices of the k-core with their degree inside the core."""
    # undirected: materialize both directions once, peel on (v, other)
    e = supplier_edges(spark, sf_dir)
    # eager localCheckpoint per round (components.py discipline): each
    # round references the previous frame twice (degree agg + semi-join
    # filters), the checkpoint is lineage-free so nothing recomputes, and
    # the ContextCleaner reclaims out-of-scope round frames — no manual
    # persist/unpersist bookkeeping, and no driver-side materialization of
    # the (worst-case O(|V|)) core result
    rows = Observation()
    cur = (
        e.select(F.col("a").alias("v"), F.col("b").alias("o"))
        .union(e.select(F.col("b").alias("v"), F.col("a").alias("o")))
        .observe(rows, F.count("*").alias("n"))
        .localCheckpoint()
    )
    n_prev = rows.get["n"]
    while True:
        keep = (
            cur.groupBy("v")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("v")
        )
        rows = Observation()
        cur = (
            cur.join(keep, "v", "left_semi")
            .join(keep.select(F.col("v").alias("o")), "o", "left_semi")
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        if rows.get["n"] == n_prev:
            break
        n_prev = rows.get["n"]
    return cur.groupBy("v").agg(F.count("*").cast("long").alias("core_deg"))


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_vertices(spark, sf_dir).orderBy("v")


ORACLE_ROUNDS = 10


def _kcore_oracle_sql(k: int = K, rounds: int = ORACLE_ROUNDS) -> str:
    # each round references its predecessor (and keep{r}) TWICE; DuckDB
    # inlines un-materialized CTEs per reference, so the plan doubles per
    # round (2^rounds base scans — manifested as fd exhaustion at round
    # 10). AS MATERIALIZED pins every round to ONE evaluation.
    blocks = [
        """e0 AS MATERIALIZED (
            SELECT a AS v, b AS o FROM pairs
            UNION ALL SELECT b AS v, a AS o FROM pairs
        )"""
    ]
    for r in range(1, rounds + 1):
        blocks.append(f"""keep{r} AS MATERIALIZED (
            SELECT v FROM (SELECT v, count(*) AS deg FROM e{r - 1} GROUP BY v)
            WHERE deg >= {k}
        ),
        e{r} AS MATERIALIZED (
            SELECT e.v, e.o FROM e{r - 1} e
            WHERE e.v IN (SELECT v FROM keep{r})
              AND e.o IN (SELECT v FROM keep{r})
        )""")
    body = ",\n        ".join(blocks)
    return f"""
        WITH {SUPPLIER_PAIRS_CTE},
        {body}
        SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS core_deg
        FROM e{rounds}
        GROUP BY v
        ORDER BY v
    """


QUERIES = {"graph_kcore": graph_kcore}
ORACLE = {"graph_kcore": _kcore_oracle_sql()}
