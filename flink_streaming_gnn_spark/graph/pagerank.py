"""PageRank over the derived bipartite graph — the second classic
iterative operator (with graph/components.py) proving the engine handles
fixpoint computations the reference's A10 iteration head/tail existed for.

Spark-first shape: each power-iteration round is one join (ranks onto
out-edges) + one aggregate (sum of contributions per dst) + one map
(damping) — two shuffles, both on vertex id, so consecutive rounds reuse
the partitioning. A fixed round count (no convergence read) keeps the job
graph static; 10 rounds is within 1e-4 of the fixpoint on this corpus.
Dangling mass (vertices with no out-edges — all suppliers in the bipartite
derivation) is redistributed each round, per the standard formulation,
via a broadcast 1-row aggregate folded into the round's own job.

``power_iteration`` is the one rank loop: it takes a teleport set, and
the start vector, the teleport term and the returned dangling mass all
land uniformly on that set. PageRank teleports to every vertex;
personalized PageRank (graph/ppr.py) to its seed set.

Determinism note: per-vertex rank sums are floating-point and
partition-order dependent in the last ulp, so the registry key rounds to 6
decimals and is rows-only; exactness vs a numpy power-iteration reference
(same rounds, same damping) is pinned in tests/test_pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    derive_edges,
)
from flink_streaming_gnn_spark.plans import truncate

DAMPING = 0.85
ROUNDS = 10


@truncate.release_superseded_checkpoints
def power_iteration(
    spark: SparkSession, sf_dir: str, rounds: int, teleport: Column
) -> DataFrame:
    """Damped power iteration over the directed purchase graph (customers
    point at suppliers). ``teleport`` is a predicate on ``v`` naming the
    teleport set T: ranks start at 1/|T| on T, and each round gives every
    vertex of T ``(1−d)/|T| + d·dm/|T|``, where dm is the dangling mass."""
    e = bipartite_pairs(derive_edges(spark, sf_dir))
    v = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .distinct()
        .persist()
    )
    n = v.filter(teleport).count()  # scalar: |T| (drives the teleport term)
    out_deg = e.groupBy("a").agg(F.count("*").alias("deg"))
    # edges with the source's out-degree attached, reused every round
    e_deg = e.join(out_deg, "a").persist()
    base = F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * F.col("dm") / F.lit(float(n))

    def step(ranks, observe):
        contribs = (
            e_deg.join(ranks, e_deg.a == ranks.v)
            .select("b", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("in_sum"))
        )
        # dangling mass (rank held by vertices with no out-edges) as a
        # broadcast 1-row frame folded into the SAME job — the round-5
        # version pulled it to the driver with a per-round .first(),
        # which made every iteration pay an extra full-graph action
        # (the ×10 probe split ~40% of PageRank's 76 s on those jobs)
        dang = ranks.join(out_deg, ranks.v == out_deg.a, "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        return (
            v.join(contribs, v.v == contribs.b, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "v",
                (
                    F.when(teleport, base).otherwise(F.lit(0.0))
                    + F.lit(DAMPING) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
        )

    ranks = v.select(
        "v", F.when(teleport, F.lit(1.0 / n)).otherwise(F.lit(0.0)).alias("rank")
    ).localCheckpoint()
    try:
        return truncate.iterate(ranks, step, rounds)
    finally:
        e_deg.unpersist()
        v.unpersist()


def pagerank_ranks(spark: SparkSession, sf_dir: str, rounds: int = ROUNDS) -> DataFrame:
    return power_iteration(spark, sf_dir, rounds, F.lit(True))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: top-100 vertices by rank (rounded to 6 dp), the
    stable summary a ranking consumer reads. Rows-only (float fixpoint);
    exact-vs-numpy pinned in tests.

    The summary (≤100 rows) is materialized and the loop's caches dropped
    before returning: an iterative operator must not leave round-frames
    pinned in executor memory once its fixpoint is reduced to a
    result-sized table. Verify-scale fixtures run half the rounds — the
    rows-only check doesn't need the production-precision fixpoint."""
    rounds = ROUNDS // 2 if _is_verify_scale(sf_dir) else ROUNDS
    ranks = pagerank_ranks(spark, sf_dir, rounds=rounds)
    top = (
        ranks.select("v", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("v"))
        .limit(100)
    )
    rows = top.collect()  # ≤100 rows — summary, not data path
    ranks.unpersist()
    return spark.createDataFrame(rows, schema="v long, rank double")


def _is_verify_scale(sf_dir: str) -> bool:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        return bool(m) and float(m.group(1).rstrip(".")) <= 0.01
    except ValueError:
        return False


def unrolled_rank_sql(rounds: int, head: str, rank_cte: str, where: str = "") -> str:
    """DuckDB twin of ``power_iteration``: the rounds unrolled into
    MATERIALIZED CTEs. ``head`` defines r0 over the ``bipartite`` pairs,
    their ``verts`` and ``out_deg``; ``rank_cte`` is round {r}'s rank CTE over
    contrib{r} and dang{r}, a template with {r} and {d} (damping) slots.
    Every CTE is MATERIALIZED — each round references its predecessor
    twice (contribs + dangling), so un-materialized inlining would double
    the plan per round."""
    chain = truncate.unroll(
        f"""{BIPARTITE_PAIRS_CTE},
        verts AS MATERIALIZED (
            SELECT a AS v FROM bipartite UNION SELECT b AS v FROM bipartite
        ),
        out_deg AS MATERIALIZED (
            SELECT a, count(*) AS deg FROM bipartite GROUP BY a
        ),
        {head}""",
        lambda r: f"""contrib{r} AS MATERIALIZED (
            SELECT e.b, sum(p.rank / od.deg) AS in_sum
            FROM bipartite e JOIN out_deg od ON od.a = e.a
                             JOIN r{r - 1} p ON p.v = e.a
            GROUP BY e.b
        ),
        dang{r} AS MATERIALIZED (
            SELECT COALESCE(sum(rank), 0.0) AS dm
            FROM r{r - 1} WHERE v NOT IN (SELECT a FROM out_deg)
        ),
        {rank_cte.format(r=r, d=DAMPING)}""",
        rounds,
    )
    return f"""
        WITH {chain}
        SELECT CAST(v AS BIGINT) AS v, round(rank, 6) AS rank
        FROM r{rounds}{where}
        ORDER BY round(rank, 6) DESC, v
        LIMIT 100
    """


def _pagerank_oracle_sql(rounds: int = ROUNDS // 2) -> str:
    """Round-2 upgrade from rows-only: mechanically-unrolled power
    iteration (the LPA/k-core trick). Generated for the VERIFY-scale round
    count (oracles only ever run at sf0.01). Ranks differ from Spark's
    only in final-ulp float accumulation order; the key rounds to 6 dp at
    magnitudes ~1/|V|, so the hash is stable."""
    head = """n AS (SELECT count(*) AS n FROM verts),
        r0 AS MATERIALIZED (
            SELECT v, 1.0 / n.n AS rank FROM verts CROSS JOIN n
        )"""
    rank_cte = """r{r} AS MATERIALIZED (
            SELECT verts.v,
                   (1.0 - {d}) / n.n + {d} * dang{r}.dm / n.n
                   + {d} * COALESCE(c.in_sum, 0.0) AS rank
            FROM verts
            LEFT JOIN contrib{r} c ON c.b = verts.v
            CROSS JOIN n CROSS JOIN dang{r}
        )"""
    return unrolled_rank_sql(rounds, head, rank_cte)


QUERIES = {"graph_pagerank": graph_pagerank}
ORACLE = {"graph_pagerank": _pagerank_oracle_sql()}
