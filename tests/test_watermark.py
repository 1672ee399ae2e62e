"""Watermark semantics (reference A16): an event arriving after the
watermark has passed its window is dropped from append-mode output — the
late-data policy the reference inherits from Flink and we inherit from
Structured Streaming. Verified with a hand-built two-micro-batch replay
where batch 2 carries an event that is late w.r.t. batch 1's watermark."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.streaming.replay import run_append_spooled


def _write_ordered_chunks(spark, watch_dir: str, *chunks: pd.DataFrame) -> None:
    """Write each chunk as one parquet file directly inside ``watch_dir``
    (the file stream source does not recurse into subdirectories), with
    strictly increasing mtimes so micro-batch order is deterministic."""
    now = time.time()
    for i, pdf in enumerate(chunks):
        staging = os.path.join(watch_dir, f"_stage_{i}")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dest = os.path.join(watch_dir, f"chunk_{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(staging)
        t = now - 120 + i * 60
        os.utime(dest, (t, t))


def test_late_event_dropped_beyond_watermark(spark):
    with tempfile.TemporaryDirectory() as d:
        # micro-batch 1: on-time events spanning 3 hours -> after it, the
        # 1h watermark sits at 02:00, closing the [00:00, 01:00) window
        b1 = pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:10:00", "2024-01-01 00:20:00", "2024-01-01 03:00:00"]
                ),
                "value": [1.0, 1.0, 1.0],
            }
        )
        # micro-batch 2: on-time filler — Spark applies a newly-advanced
        # watermark to *subsequent* batches, so the straggler goes in
        # batch 3, one batch after the 02:00 watermark took effect
        b2 = pd.DataFrame(
            {
                "user_id": [1],
                "ts": pd.to_datetime(["2024-01-01 03:30:00"]),
                "value": [1.0],
            }
        )
        # micro-batch 3: the late straggler for the already-closed window
        b3 = pd.DataFrame(
            {
                "user_id": [1],
                "ts": pd.to_datetime(["2024-01-01 00:30:00"]),
                "value": [100.0],
            }
        )
        _write_ordered_chunks(spark, d, b1, b2, b3)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
            .agg(F.sum("value").alias("total"), F.count("*").cast("long").alias("n"))
            .select(
                F.date_format("win.start", "HH:mm").alias("ws"), "user_id", "total", "n"
            )
        )
        out = run_append_spooled(agg, "late_drop").toPandas()

    first = out[out.ws == "00:00"]
    assert len(first) == 1
    # the late 100.0 must NOT be in the closed window: on-time rows only
    assert first.iloc[0]["n"] == 2
    assert first.iloc[0]["total"] == 2.0


def test_late_event_within_watermark_included(spark):
    """Same shape, but the straggler is within the allowed lateness — it
    must be merged into its window before the watermark closes it."""
    with tempfile.TemporaryDirectory() as d:
        b1 = pd.DataFrame(
            {
                "user_id": [1, 1],
                "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:50:00"]),
                "value": [1.0, 1.0],
            }
        )
        b2 = pd.DataFrame(
            {
                # 00:30 is late vs max-seen 00:50 but inside the 2h watermark
                "user_id": [1, 1],
                "ts": pd.to_datetime(["2024-01-01 00:30:00", "2024-01-01 05:00:00"]),
                "value": [100.0, 1.0],
            }
        )
        _write_ordered_chunks(spark, d, b1, b2)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
            .agg(F.sum("value").alias("total"), F.count("*").cast("long").alias("n"))
            .select(
                F.date_format("win.start", "HH:mm").alias("ws"), "user_id", "total", "n"
            )
        )
        out = run_append_spooled(agg, "late_keep").toPandas()

    first = out[out.ws == "00:00"]
    assert len(first) == 1
    assert first.iloc[0]["n"] == 3
    assert first.iloc[0]["total"] == 102.0
