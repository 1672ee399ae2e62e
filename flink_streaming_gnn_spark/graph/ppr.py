"""Personalized PageRank from a landmark seed set — the seeded-diffusion
variant of ``graph/pagerank.py`` (and the propagation kernel of APPNP /
PPRGo-style GNN inference: "predict then propagate" runs exactly this
fixpoint over the prediction vector, so an engine claiming the reference's
GNN surface needs the personalized kernel, not just the global one).

Differences from global PageRank, both standard (Jeh–Widom): the teleport
term lands only on the seed set (uniformly over |S|), and dangling mass
returns to the seeds instead of spreading uniformly. That is PageRank with
the seed set as its teleport set, so this module runs
``graph/pagerank.power_iteration`` — the same round, one
``localCheckpoint()`` per round with the dangling mass folded into the
round's job as a broadcast 1-row frame — and keeps only the seed
definition, the registry key and the oracle.

Seeds are the ``graph/closeness.py`` landmarks (customers with
c_custkey % 500 == 0, i.e. a % 1000 == 0 in the disjoint 2c / 2s+1 id
space) — scale-stable density, and the two landmark operators share one
seed definition.

Oracle: mechanically-unrolled MATERIALIZED round CTEs at the verify-scale
round count (the pagerank/k-core/Katz discipline); ranks rounded to 6 dp
so only last-ulp float accumulation order is absorbed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.pagerank import (
    DAMPING,  # noqa: F401 — PPR's damping is PageRank's; tests read it here
    ROUNDS,
    _is_verify_scale,
    power_iteration,
    unrolled_rank_sql,
)

SEED_MOD = 1000  # a % 1000 == 0 ⇔ c_custkey % 500 == 0 (closeness landmarks)


def ppr_ranks(
    spark: SparkSession, sf_dir: str, rounds: int = ROUNDS
) -> DataFrame:
    """PageRank with the seed set as its teleport set."""
    return power_iteration(spark, sf_dir, rounds, F.col("v") % SEED_MOD == 0)


def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: top-100 vertices by personalized rank (6 dp), seeds'
    own retained mass included — the PPRGo-style locality ranking around
    the landmark set. Verify-scale fixtures run half the rounds, matching
    the generated oracle."""
    rounds = ROUNDS // 2 if _is_verify_scale(sf_dir) else ROUNDS
    ranks = ppr_ranks(spark, sf_dir, rounds=rounds)
    top = (
        ranks.filter(F.col("rank") > 0)
        .select("v", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("v"))
        .limit(100)
    )
    rows = top.collect()  # ≤100 rows — summary, not data path
    ranks.unpersist()
    return spark.createDataFrame(rows, schema="v long, rank double")


def _ppr_oracle_sql(rounds: int = ROUNDS // 2) -> str:
    head = f"""seeds AS MATERIALIZED (
            SELECT v FROM verts WHERE v % {SEED_MOD} = 0
        ),
        ns AS (SELECT count(*) AS ns FROM seeds),
        r0 AS MATERIALIZED (
            SELECT verts.v,
                   CASE WHEN s.v IS NOT NULL THEN 1.0 / ns.ns ELSE 0.0 END AS rank
            FROM verts LEFT JOIN seeds s ON s.v = verts.v CROSS JOIN ns
        )"""
    rank_cte = """r{r} AS MATERIALIZED (
            SELECT verts.v,
                   CASE WHEN s.v IS NOT NULL
                        THEN (1.0 - {d}) / ns.ns + {d} * dang{r}.dm / ns.ns
                        ELSE 0.0 END
                   + {d} * COALESCE(c.in_sum, 0.0) AS rank
            FROM verts
            LEFT JOIN seeds s ON s.v = verts.v
            LEFT JOIN contrib{r} c ON c.b = verts.v
            CROSS JOIN ns CROSS JOIN dang{r}
        )"""
    return unrolled_rank_sql(rounds, head, rank_cte, "\n        WHERE rank > 0")


QUERIES = {"graph_ppr_seeded": graph_ppr_seeded}
ORACLE = {"graph_ppr_seeded": _ppr_oracle_sql()}
