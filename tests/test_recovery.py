"""Checkpoint recovery + streaming metrics (reference A15/A16 operational
surface): a streaming query killed mid-stream and restarted from its
checkpoint must process each input exactly once into the file sink; the
listener-bus recorder must account for every input row without touching
the data path."""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.replay import events_stream, run_complete_spooled
from perfbench.tracing import StreamRecorder
from tests.conftest import SF_SMOKE


def test_checkpoint_recovery_exactly_once(spark):
    """Run one micro-batch, stop, restart from the same checkpoint with
    AvailableNow: the parquet sink must end up with every source row
    exactly once — offsets resumed, no replay, no loss."""
    with tempfile.TemporaryDirectory() as work:
        ckpt, out = os.path.join(work, "ckpt"), os.path.join(work, "out")
        projected_cols = ["event_id", "user_id", "event_type", "value"]

        def stream_df():
            return events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
                *projected_cols
            )

        # phase 1: exactly one micro-batch, then hard stop
        q1 = (
            stream_df()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 seconds")  # batch 0 fires immediately
            .start()
        )
        deadline = time.time() + 60
        while q1.lastProgress is None and time.time() < deadline:
            time.sleep(0.5)
        q1.stop()
        q1.awaitTermination()
        partial = spark.read.parquet(out).count()

        # phase 2: resume from the checkpoint and drain the rest
        q2 = (
            stream_df()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        got = spark.read.parquet(out)
        batch = load_table(spark, SF_SMOKE, "events").select(*projected_cols)
        assert partial < batch.count()  # phase 1 really was partial
        assert got.count() == batch.count()  # exactly once: no loss...
        assert got.select("event_id").distinct().count() == batch.count()  # ...no dupes


def test_listener_accounts_all_rows(spark):
    n_events = load_table(spark, SF_SMOKE, "events").count()
    rec = StreamRecorder()
    spark.streams.addListener(rec)
    try:
        mark = rec.mark()
        agg = (
            events_stream(spark, SF_SMOKE, files_per_trigger=4)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"))
        )
        result = run_complete_spooled(agg, "metrics_probe").toPandas()
        # bus delivery is async: a stream's record is complete once its
        # terminated event has arrived
        batches = [b for run in rec.wait_closed(mark) for b in rec.progress.get(run, [])]
    finally:
        spark.streams.removeListener(rec)
    assert sum(b["rows"] for b in batches) == n_events
    assert len(batches) >= 2  # multi-micro-batch replay
    assert result["n"].sum() == n_events
