"""Streaming CDC apply — the foreachBatch upsert pattern (SURVEY.md §2A
A5's mutable keyed state, re-expressed as Spark's sink-side idiom).

Structured Streaming cannot mutate a parquet snapshot in place; the
idiomatic parquet-only pattern (no Delta/Iceberg in this container) is
log-structured merge: each micro-batch reduces its rows to the latest
record per key and APPENDS them to a compacted changelog; readers apply
merge-on-read (rank-1 per key + tombstone filter) to see the current
snapshot. With a transactional table format the same ``foreachBatch``
body becomes a MERGE INTO — the plan shape is identical.

Scale posture: the per-batch reduction is one window over the micro-batch
(small), the append is blind (no read-modify-write races — the batch id
makes replays idempotent per epoch), and merge-on-read is the same
WindowGroupLimit plan as cdc_latest_snapshot. Compaction (rewriting the
log to one row per key) is the same query run as a maintenance job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.streaming.replay import drain, events_stream


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_cdc_apply(
    spark: SparkSession, sf_dir: str, log_dir: str, ckpt_dir: str | None = None
) -> None:
    """Replay the events fixture as a multi-batch stream; foreachBatch
    appends each micro-batch's latest-per-user rows (plus batch_id for
    idempotent replay) to the changelog. ``ckpt_dir`` is kept only when
    given (re-draining against it must add no rows)."""
    stream = events_stream(spark, sf_dir, files_per_trigger=2)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            _latest_per_user(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(log_dir)
        )

    drain(stream, "append", apply_batch, ckpt_dir)


def read_snapshot(spark: SparkSession, log_dir: str) -> DataFrame:
    """Merge-on-read view of the changelog: latest row per user (ordered by
    event time, then event id, then batch id), tombstones (latest event =
    ``error``) dropped — same semantics as the batch cdc_latest_snapshot."""
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(log_dir)
    log = spark.read.parquet(log_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc(), F.col("batch_id").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )
