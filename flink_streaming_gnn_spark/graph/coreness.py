"""Full core decomposition — per-vertex coreness via the h-index
iteration (Montresor, De Pellegrini, Miorandi, "Distributed k-core
decomposition", IEEE TPDS 2013; Lü et al. 2016 for the h-operator
fixpoint): start every vertex at its degree and repeatedly replace each
estimate with the h-index of its neighbors' estimates. The operator is
monotone non-increasing, idempotent past the fixpoint, and converges to
the exact coreness — the *whole* core hierarchy, where ``graph_kcore``
answers only membership at one fixed k.

Spark-first round: one join (estimates onto directed neighbor lists),
one per-vertex h-index — computed relationally as
``max(least(rank, est))`` over the estimate-descending row_number — and
one element-wise ``least`` with the previous estimate. Two shuffles per
round, both keyed on vertex id; ``truncate.iterate`` runs the rounds.
The previous estimate is still in the row that takes the ``least``, so
the count of lowered estimates is the round's observed count and no
comparison job runs. No round cap: an n-vertex path takes about n/2
rounds, as the fall travels inward from both ends.

Exact oracle: ORACLE_ROUNDS unrolled MATERIALIZED round CTEs
(``truncate.unroll``) reproduce the fixpoint exactly once they reach it,
and the unroll's guard raises if they have not; all-integer state, so
the hash is rounding-free. Exact-peeling parity (min-heap
algorithm) is pinned in tests/test_round3b.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans import truncate

ORACLE_ROUNDS = 6  # converged after 3 rounds at sf0.01, 5 at sf0.1; the guard needs one more


@truncate.release_superseded_checkpoints
def graph_coreness_hindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: (v, coreness) for every vertex — the exact core
    number, computed to fixpoint."""
    pairs = bipartite_pairs(derive_edges(spark, sf_dir))
    ue = both_directions(pairs).localCheckpoint()
    est = (
        ue.groupBy("a").agg(F.count("*").alias("est"))
        .select(F.col("a").alias("v"), "est")
        .localCheckpoint()
    )
    w = Window.partitionBy("a").orderBy(F.col("est").desc())

    def step(est, observe):
        h = (
            ue.join(est, ue.b == est.v)
            .select("a", "est")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("a")
            .agg(F.max(F.least("rn", "est")).alias("h"))
        )
        return observe(
            est.join(h, est.v == h.a), F.count_if(F.col("h") < F.col("est"))
        ).select("v", F.least("est", "h").alias("est"))

    return truncate.iterate(est, step).select(
        F.col("v").cast("long").alias("v"),
        F.col("est").cast("long").alias("coreness"),
    ).orderBy("v")


def _coreness_oracle_sql(rounds: int = ORACLE_ROUNDS) -> str:
    chain = truncate.unroll(
        f"""{BIPARTITE_PAIRS_CTE},
        ue AS MATERIALIZED (
            SELECT a, b FROM bipartite UNION ALL SELECT b AS a, a AS b FROM bipartite
        ),
        est0 AS MATERIALIZED (
            SELECT a AS v, count(*) AS est FROM ue GROUP BY a
        )""",
        lambda r: f"""h{r} AS MATERIALIZED (
            SELECT a, max(least(rn, est)) AS h FROM (
                SELECT ue.a, e.est,
                       row_number() OVER (PARTITION BY ue.a ORDER BY e.est DESC)
                           AS rn
                FROM ue JOIN est{r - 1} e ON e.v = ue.b
            ) GROUP BY a
        ),
        est{r} AS MATERIALIZED (
            SELECT e.v, least(e.est, h{r}.h) AS est
            FROM est{r - 1} e JOIN h{r} ON h{r}.a = e.v
        )""",
        rounds,
        fixpoint="est{r}",
    )
    return f"""
        WITH {chain}
        SELECT CAST(v AS BIGINT) AS v, CAST(est AS BIGINT) AS coreness
        FROM est{rounds}
        WHERE {truncate.converged("est{r}", rounds)}
        ORDER BY v
    """


QUERIES = {"graph_coreness_hindex": graph_coreness_hindex}
ORACLE = {"graph_coreness_hindex": _coreness_oracle_sql()}
