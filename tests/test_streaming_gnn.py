"""A8 windowed-forward batch≡stream test: the same windowed-SAGE plan run
over a multi-micro-batch replay of the edge stream must produce exactly the
batch result — the reference's windowed coalescing + batched tensor
forward, with Spark's state store doing the coalescing incrementally."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.gnn import (
    edges_stream,
    edges_v_with_ts,
    graph_sage_windowed,
    windowed_sage,
)
from flink_streaming_gnn_spark.streaming.replay import run_complete_spooled
from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare_frames


def test_windowed_sage_stream_equals_batch(spark):
    features = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    streamed_plan = windowed_sage(edges_stream(spark, SF_SMOKE), features)
    streamed = run_complete_spooled(streamed_plan, "windowed_sage_stream").toPandas()
    batch = graph_sage_windowed(spark, SF_SMOKE).toPandas()
    assert len(batch) > 0
    assert not compare_frames(streamed, batch, "windowed sage batch≡stream")


def test_window_coalesces_updates(spark):
    """The windowed aggregate must emit one row per (window, vertex) no
    matter how many edge arrivals hit that vertex — the A8 dedup."""
    out = graph_sage_windowed(spark, SF_SMOKE).toPandas()
    assert not out.duplicated(["yr", "vec_id"]).any()
    n_edges = edges_v_with_ts(spark, SF_SMOKE).count()
    assert len(out) < n_edges  # coalescing actually collapsed arrivals


def test_late_edge_dropped_from_vertex_window(spark):
    """A16 meets A8: an edge arriving behind the watermark must be dropped
    from its (window, vertex) neighbor aggregate — mirroring
    tests/test_watermark.py but on the GNN's stage-1 windowed coalescing
    aggregate (the state-bearing half of windowed_sage)."""
    import glob
    import shutil
    import time

    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        # feature lookup: src vertex -> scalar feature (tiny static side)
        feats = spark.createDataFrame(
            pd.DataFrame({"vec_id": [10, 11, 12], "f": [1.0, 3.0, 100.0]})
        )
        # b1: two on-time edges into vertex 1 in [00:00,01:00) + one at 03:00
        # that pushes the watermark past the first window's close
        b1 = pd.DataFrame(
            {
                "src_v": [10, 11, 10],
                "dst_v": [1, 1, 2],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:10:00", "2024-01-01 00:20:00", "2024-01-01 03:00:00"]
                ),
            }
        )
        # b2: on-time filler so the advanced watermark applies to b3
        b2 = pd.DataFrame(
            {
                "src_v": [11],
                "dst_v": [2],
                "ts": pd.to_datetime(["2024-01-01 03:30:00"]),
            }
        )
        # b3: late edge (src 12, feature 100.0) for the closed window
        b3 = pd.DataFrame(
            {
                "src_v": [12],
                "dst_v": [1],
                "ts": pd.to_datetime(["2024-01-01 00:30:00"]),
            }
        )
        now = time.time()
        for i, pdf in enumerate([b1, b2, b3]):
            staging = os.path.join(d, f"_stage_{i}")
            spark.createDataFrame(pdf).coalesce(1).write.parquet(staging)
            part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
            dest = os.path.join(d, f"chunk_{i}.parquet")
            shutil.move(part, dest)
            shutil.rmtree(staging)
            t = now - 120 + i * 60
            os.utime(dest, (t, t))

        stream = (
            spark.readStream.schema("src_v long, dst_v long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .join(feats, stream.src_v == feats.vec_id)
            .groupBy(F.window("ts", "1 hour").alias("win"), "dst_v")
            .agg(F.avg("f").alias("nbr_mean"), F.count("*").cast("long").alias("n"))
            .select(F.date_format("win.start", "HH:mm").alias("ws"), "dst_v", "nbr_mean", "n")
        )
        from flink_streaming_gnn_spark.streaming.replay import run_append_spooled

        out = run_append_spooled(agg, "late_edge_gnn").toPandas()

    first = out[(out.ws == "00:00") & (out.dst_v == 1)]
    assert len(first) == 1
    # late feature-100 edge excluded: mean over the two on-time neighbors only
    assert first.iloc[0]["n"] == 2
    assert abs(first.iloc[0]["nbr_mean"] - 2.0) < 1e-9
