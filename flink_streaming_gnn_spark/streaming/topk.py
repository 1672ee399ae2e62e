"""Streaming windowed top-k — the foreachBatch re-rank pattern.

Structured Streaming forbids ranking windows on a streaming DataFrame
(row_number needs the whole partition, which is unbounded mid-stream).
The production idiom: keep the windowed AGGREGATE streaming-native
(incremental per-(window, user) counts in the state store), and run the
top-k as a per-trigger foreachBatch re-rank over the aggregate state —
state-store-sized input, one WindowGroupLimit plan per trigger, results
overwritten per epoch (idempotent under replay).

This is the reference's windowed-forward shape (A8) applied to a ranking
readout: incremental state inside the engine, batched finishing compute
per window fire. Pinned batch≡stream in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.streaming.replay import drain, events_stream

TOP_K = 3


def run_windowed_topk(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Replay events as a multi-batch stream; per trigger, re-rank the
    complete windowed-count state and overwrite the top-k sink."""
    ev = events_stream(spark, sf_dir, files_per_trigger=2)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )

    def rerank(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("win").orderBy(
            F.col("n_events").desc(), F.col("user_id")
        )
        (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "user_id",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("rn").cast("long").alias("rank"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    drain(agg, "complete", rerank)


def batch_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: same hourly top-k computed directly."""
    from flink_streaming_gnn_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("win_start"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("rn").cast("long").alias("rank"),
        )
    )
