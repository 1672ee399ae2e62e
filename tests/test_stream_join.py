"""Stream–stream interval join: the watermarked streaming execution over
file replay must produce exactly the batch join's pairs (append mode —
every match emitted once), including across micro-batch boundaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.joins import _sides, interval_join
from flink_streaming_gnn_spark.streaming.replay import (
    events_stream,
    run_append_spooled,
)
from tests.conftest import SF_SMOKE


def test_interval_join_batch_equals_stream(spark):
    # batch ground truth: the exact matched (purchase, click) pair set
    p_b, c_b = _sides(load_table(spark, SF_SMOKE, "events"))
    batch_pairs = {
        (int(r.p_id), int(r.c_id))
        for r in interval_join(p_b, c_b).select("p_id", "c_id").collect()
    }
    assert batch_pairs, "fixture must produce at least one joined pair"

    # streaming twin: same source replayed as micro-batches, both sides
    # watermarked, same join condition. The replay chunks are hash- (not
    # time-) partitioned, so the disorder across micro-batches spans the
    # whole fixture; the watermark delay must exceed that span for equality
    # (in production it is the real disorder bound — late-drop semantics
    # are pinned separately in tests/test_watermark.py).
    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2)
    p_s, c_s = _sides(stream)
    joined = interval_join(
        p_s.withWatermark("p_ts", "90 days"), c_s.withWatermark("c_ts", "90 days")
    ).select("p_id", "c_id")
    streamed = run_append_spooled(joined, "interval_join_stream").toPandas()
    stream_pairs = {(int(r.p_id), int(r.c_id)) for r in streamed.itertuples()}

    assert stream_pairs == batch_pairs
    # append mode emits each match exactly once
    assert len(streamed) == len(stream_pairs)
