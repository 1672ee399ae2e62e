"""HITS (hubs & authorities, Kleinberg 1999) — the centrality pair that is
*natural* on this corpus's bipartite purchase graph: customers are pure
hubs (only out-edges), suppliers pure authorities (only in-edges), so one
HITS round is exactly "authority = Σ hub of buyers; hub = Σ authority of
suppliers bought from" — two joins + two aggregates per round, both
shuffling on vertex id.

Spark-first shape mirrors graph/pagerank.py's driver loop. Each half-round
is one join + one aggregate ending in an eager ``localCheckpoint``; its L2
norm ``sqrt(sum(x²))`` is observed on that same job, so the driver reads
one scalar per half-round and runs no extra job.

Rows-only (float fixpoint; per-vertex sums are partition-order dependent
in the last ulp); exactness vs a numpy power iteration (same rounds) is
pinned in tests/test_new_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import derive_edges
from flink_streaming_gnn_spark.plans import truncate

ROUNDS = 8


@truncate.release_superseded_checkpoints
def hits_scores(spark: SparkSession, sf_dir: str, rounds: int = ROUNDS) -> DataFrame:
    """(side, id, score) for customers (hubs) and suppliers (authorities).

    Each half-round materializes the normalized scores with an EAGER
    ``localCheckpoint`` — unlike ``persist`` (which caches data but keeps
    the full logical plan), checkpointing TRUNCATES the plan to a leaf, so
    the driver's analysis cost stays O(1) per round. This matters: a
    persist-only variant of this loop was measured spinning the driver in
    Catalyst re-analysis (round times 9s → 31s → hung) because each round's
    double self-referential join doubled the analyzed tree. The L2 norm is
    observed on the checkpoint job of the raw sums (pagerank's
    O(1)-driver-read contract, with no extra job).
    """
    e = derive_edges(spark, sf_dir).select("src", "dst").distinct().localCheckpoint()
    hubs = e.select("src").distinct().withColumn("h", F.lit(1.0)).localCheckpoint()
    auths = None
    for _ in range(rounds):
        norm_a = Observation()
        a_raw = (
            e.join(hubs, "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
            .observe(norm_a, F.sqrt(F.sum(F.col("a_raw") * F.col("a_raw"))).alias("n"))
            .localCheckpoint()
        )
        new_auths = a_raw.select("dst", (F.col("a_raw") / norm_a.get["n"]).alias("a"))
        norm_h = Observation()
        h_raw = (
            e.join(new_auths, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h_raw"))
            .observe(norm_h, F.sqrt(F.sum(F.col("h_raw") * F.col("h_raw"))).alias("n"))
            .localCheckpoint()
        )
        new_hubs = h_raw.select("src", (F.col("h_raw") / norm_h.get["n"]).alias("h"))
        hubs, auths = new_hubs, new_auths
    return (
        hubs.select(
            F.lit("hub").alias("side"), F.col("src").alias("id"), F.col("h").alias("score")
        )
        .unionByName(
            auths.select(
                F.lit("authority").alias("side"),
                F.col("dst").alias("id"),
                F.col("a").alias("score"),
            )
        )
    )


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: top-50 per side by score (rounded 6 dp)."""
    scores = hits_scores(spark, sf_dir)
    w = Window.partitionBy("side").orderBy(F.col("score").desc(), F.col("id"))
    top = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select(
            "side",
            "id",
            F.round("score", 6).alias("score"),
            F.col("rn").cast("long").alias("rank"),
        )
    )
    rows = top.collect()
    return spark.createDataFrame(rows, schema="side string, id long, score double, rank long")


def _hits_oracle_sql(rounds: int = ROUNDS) -> str:
    """Round-2 upgrade from rows-only: unrolled hub/authority half-rounds
    with the L2 normalization as a 1-row scalar CTE per half-round, all
    MATERIALIZED. Last-ulp float divergence only; round-6 stable."""
    chain = truncate.unroll(
        """e AS MATERIALIZED (
            SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        h0 AS MATERIALIZED (
            SELECT DISTINCT src, 1.0 AS h FROM e
        )""",
        lambda r: f"""araw{r} AS MATERIALIZED (
            SELECT e.dst, sum(h.h) AS ar
            FROM e JOIN h{r - 1} h ON h.src = e.src
            GROUP BY e.dst
        ),
        na{r} AS (SELECT sqrt(sum(ar * ar)) AS s FROM araw{r}),
        a{r} AS MATERIALIZED (
            SELECT dst, ar / na{r}.s AS a FROM araw{r} CROSS JOIN na{r}
        ),
        hraw{r} AS MATERIALIZED (
            SELECT e.src, sum(a.a) AS hr
            FROM e JOIN a{r} a ON a.dst = e.dst
            GROUP BY e.src
        ),
        nh{r} AS (SELECT sqrt(sum(hr * hr)) AS s FROM hraw{r}),
        h{r} AS MATERIALIZED (
            SELECT src, hr / nh{r}.s AS h FROM hraw{r} CROSS JOIN nh{r}
        )""",
        rounds,
    )
    return f"""
        WITH {chain},
        scores AS (
            SELECT 'hub' AS side, src AS id, h AS score FROM h{rounds}
            UNION ALL
            SELECT 'authority' AS side, dst AS id, a AS score FROM a{rounds}
        ),
        ranked AS (
            SELECT side, id, score,
                   row_number() OVER (
                       PARTITION BY side ORDER BY score DESC, id
                   ) AS rn
            FROM scores
        )
        SELECT side, CAST(id AS BIGINT) AS id,
               round(score, 6) AS score, CAST(rn AS BIGINT) AS rank
        FROM ranked WHERE rn <= 50
    """


QUERIES = {"graph_hits": graph_hits}
ORACLE = {"graph_hits": _hits_oracle_sql()}
