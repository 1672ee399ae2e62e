"""SQL window functions: ranking, analytic, frames, top-k per group.

Reference analogue: the windowed embedding plugin (§2A A8) coalesces
per-vertex work inside event-time windows; relationally, "latest state per
key" and "top-k per key" are ranking windows. Every window here has a total
order (explicit tiebreaks) so results are deterministic across engines.

Scale: one shuffle on the partition key, in-partition sort — the same cost
profile as a groupBy. Skewed partition keys are handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table


def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile over orders per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").alias("total_price"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first / last over each user's event timeline."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.first("event_type").over(w_full).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("value_delta"),
    )


def win_frame_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running/frame aggregates: cumulative sum and a trailing 3-row mean."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("trailing3_avg"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("running_n"),
    )


def win_frame_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per-customer trailing-7-day order
    spend. Spark's rangeBetween needs a numeric ordering column, so the
    frame rides the day number (datediff from a fixed epoch) — value-wise
    identical to DuckDB's ``RANGE BETWEEN INTERVAL 6 DAYS PRECEDING``
    because order dates are day-aligned. Range frames are tie-safe (all
    peers of a day are always in-frame together), so no extra tiebreak
    column is needed for determinism."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1995-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d_spend"),
        F.count("*").over(w).cast("long").alias("trailing_7d_orders"),
    )


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (BASELINE ``window_topk_per_group``).
    Ranking window + filter — Spark pushes the rank<=k filter into the
    window node (WindowGroupLimit) so only k rows per key survive the sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("total_price"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation — last/first non-null observation per
    user timeline, the gap-carry-forward primitive behind LOCF
    imputation: error events' values are masked to NULL and each row
    reads the most recent (and the first upcoming) non-masked value.
    One per-user sort shared by both frames, all JVM."""
    ev = load_table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") == "error", None).otherwise(
        F.col("value")
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        masked.alias("v_masked"),
        F.last(masked, ignorenulls=True).over(w_back).alias("locf"),
        F.first(masked, ignorenulls=True).over(w_fwd).alias("nocb"),
    )


QUERIES = {
    "win_ranking": win_ranking,
    "win_ignore_nulls": win_ignore_nulls,
    "win_analytic": win_analytic,
    "win_frame_running": win_frame_running,
    "win_frame_range_interval": win_frame_range_interval,
    "topk_per_group": topk_per_group,
    "window_topk_per_group": topk_per_group,  # BASELINE.md headline name
}

_TOPK_SQL = """
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice AS total_price,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, total_price, rn FROM ranked WHERE rn <= 3
"""

ORACLE = {
    "win_ignore_nulls": """
        WITH m AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END
                       AS v_masked
            FROM events
        )
        SELECT event_id, user_id, v_masked,
               last_value(v_masked IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS locf,
               first_value(v_masked IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS nocb
        FROM m
    """,
    "win_frame_range_interval": """
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d') AS day,
               round(sum(o_totalprice) OVER w, 2) AS trailing_7d_spend,
               CAST(count(*) OVER w AS BIGINT) AS trailing_7d_orders
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
    "win_ranking": """
        SELECT o_orderkey, o_custkey, o_totalprice AS total_price,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "win_analytic": """
        SELECT event_id, user_id, event_type,
               lag(event_type, 1) OVER w AS prev_type,
               lead(event_type, 1) OVER w AS next_type,
               first_value(event_type) OVER w_full AS first_type,
               last_value(event_type) OVER w_full AS last_type,
               value - lag(value, 1) OVER w AS value_delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "win_frame_running": """
        SELECT event_id, user_id,
               round(sum(value) OVER w_run, 4) AS running_value,
               round(avg(value) OVER w_trail, 4) AS trailing3_avg,
               CAST(count(*) OVER w_run AS BIGINT) AS running_n
        FROM events
        WINDOW w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_trail AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "topk_per_group": _TOPK_SQL,
    "window_topk_per_group": _TOPK_SQL,
}
