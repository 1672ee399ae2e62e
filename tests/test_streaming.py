"""Batch≡stream property tests (SURVEY.md §5.2#3): replay the events
fixture as a real multi-micro-batch file stream and assert the streamed
result equals the batch twin on the same data — the correctness property
the reference system never had an automated test for.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.replay import (
    events_stream,
    run_append_spooled,
    run_complete_spooled,
    run_update_spooled,
)
from flink_streaming_gnn_spark.streaming.stateful import incremental_mean
from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare_frames


def test_stream_tumbling_equals_batch(spark):
    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
            "v",
        )
    )
    streamed = run_complete_spooled(agg, "tumbling_stream").toPandas()

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
            "v",
        )
        .toPandas()
    )
    assert not compare_frames(streamed, batch, "tumbling batch≡stream")


def test_stream_dedup_within_watermark(spark):
    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2)
    dedup = (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    streamed = run_append_spooled(dedup, "dedup_stream").toPandas()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .dropDuplicates()
        .toPandas()
    )
    # watermark-scoped dedup can keep a duplicate whose twin expired, never fewer
    assert len(streamed) >= len(batch)
    assert (
        streamed.drop_duplicates().shape[0] == batch.drop_duplicates().shape[0]
    ), "distinct key sets must agree"


def test_incremental_mean_equals_batch(spark):
    """The reference's A6 aggregator: streamed running mean (final state
    after the last micro-batch) == batch groupBy mean."""
    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
        F.col("user_id").alias("key"), F.col("value")
    )
    result = incremental_mean(stream, "key", "value")
    streamed = run_update_spooled(result, "incmean_stream").toPandas()
    # keep only each key's final state: its emitted row with the largest
    # running_count (monotone; spool rows carry no emission order)
    final = (
        streamed.sort_values("running_count")
        .drop_duplicates("key", keep="last")[["key", "running_count", "running_mean"]]
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").cast("long").alias("running_count"), F.avg("value").alias("running_mean"))
        .toPandas()
    )
    merged = final.merge(batch, on="key", suffixes=("_s", "_b"))
    assert len(merged) == len(batch)
    assert (merged.running_count_s == merged.running_count_b).all()
    assert (abs(merged.running_mean_s - merged.running_mean_b) < 1e-9).all()


def test_incremental_mean_retraction(spark):
    """A6 ``replace``: an update row (delta_old set) retracts the old value."""
    pdf = pd.DataFrame(
        {
            "key": [1, 1, 1, 2],
            "value": [10.0, 20.0, 40.0, 5.0],
            "delta_old": [None, None, 20.0, None],  # third row replaces the 20
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema("key long, value double, delta_old double").parquet(d)
        result = incremental_mean(stream, "key", "value")
        out = run_update_spooled(result, "incmean_retract").toPandas()
    final = out.sort_values("running_count").drop_duplicates("key", keep="last")
    k1 = final[final.key == 1].iloc[0]
    # key 1: 10 + 20 + (40 replacing 20) -> sum 50, count 2, mean 25
    assert k1.running_sum == 50.0 and k1.running_count == 2 and k1.running_mean == 25.0
    k2 = final[final.key == 2].iloc[0]
    assert k2.running_sum == 5.0 and k2.running_count == 1


def test_incremental_mean_tws_equals_batch(spark):
    """A6 on the Spark 4 transformWithStateInPandas API: same final state
    as the batch aggregate (and as the applyInPandasWithState variant).
    The TWS runner needs google.protobuf (absent in this container) —
    skip rather than fail where the dependency is missing."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState runner cannot start")
    from flink_streaming_gnn_spark.streaming.stateful import incremental_mean_tws

    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
        F.col("user_id").alias("key"), F.col("value")
    )
    result = incremental_mean_tws(stream, "key", "value")
    streamed = run_update_spooled(result, "incmean_tws_stream").toPandas()
    final = (
        streamed.sort_values("running_count")
        .drop_duplicates("key", keep="last")[["key", "running_count", "running_mean"]]
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").cast("long").alias("running_count"), F.avg("value").alias("running_mean"))
        .toPandas()
    )
    merged = final.merge(batch, on="key", suffixes=("_s", "_b"))
    assert len(merged) == len(batch)
    assert (merged.running_count_s == merged.running_count_b).all()
    assert (abs(merged.running_mean_s - merged.running_mean_b) < 1e-9).all()


def test_stream_sliding_equals_batch(spark):
    """Sliding windows (1h every 15min) streamed over a multi-micro-batch
    replay equal the batch evaluation — each event lands in exactly 4
    overlapping windows in both. Uses the module's streaming-legal
    aggregate list (approx_count_distinct, not the batch-only exact
    countDistinct): the HLL sketch is a deterministic function of the
    input multiset, so streamed == batch holds exactly."""
    from flink_streaming_gnn_spark.streaming.windows import (
        stream_sliding_window_streaming_aggs,
    )

    def plan(df):
        return (
            df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
            .agg(*stream_sliding_window_streaming_aggs())
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                "n_events",
                "n_users",
            )
        )

    streamed = run_complete_spooled(
        plan(events_stream(spark, SF_SMOKE, files_per_trigger=2)), "sliding_stream"
    ).toPandas()
    batch = plan(load_table(spark, SF_SMOKE, "events")).toPandas()
    assert not compare_frames(streamed, batch, "sliding batch≡stream")


def test_cdc_apply_foreachbatch_equals_batch_snapshot(spark):
    """Log-structured CDC apply (foreachBatch append + merge-on-read) over
    the multi-batch replay must equal the batch cdc_latest_snapshot — and
    re-running the drained stream against the same checkpoint must not
    duplicate the log (exactly-once per epoch)."""
    import tempfile

    from flink_streaming_gnn_spark.operators.timeseries import cdc_latest_snapshot
    from flink_streaming_gnn_spark.streaming.cdc import read_snapshot, run_cdc_apply
    from tests.conftest import SF_SMOKE

    with tempfile.TemporaryDirectory() as root:
        log_dir = f"{root}/log"
        ckpt = f"{root}/ckpt"
        run_cdc_apply(spark, SF_SMOKE, log_dir, ckpt)
        got = read_snapshot(spark, log_dir).toPandas()
        n_log = spark.read.parquet(log_dir).count()
        # drained stream + same checkpoint: no new batches, no new rows
        run_cdc_apply(spark, SF_SMOKE, log_dir, ckpt)
        assert spark.read.parquet(log_dir).count() == n_log
        want = cdc_latest_snapshot(spark, SF_SMOKE).toPandas()
    m = got.merge(want, on="user_id", suffixes=("", "_w"))
    assert len(m) == len(want) == len(got)
    assert (m.last_type == m.last_type_w).all()
    assert (m.last_seen == m.last_seen_w).all()
    assert (m.last_value == m.last_value_w).all()


def test_windowed_topk_foreachbatch_equals_batch(spark):
    """Streaming windowed top-k (foreachBatch complete-mode re-rank) must
    equal the batch hourly top-k on the same fixture."""
    import tempfile

    import pandas as pd

    from flink_streaming_gnn_spark.streaming.topk import (
        batch_windowed_topk,
        run_windowed_topk,
    )
    from tests.conftest import SF_SMOKE

    with tempfile.TemporaryDirectory() as root:
        out = f"{root}/topk"
        run_windowed_topk(spark, SF_SMOKE, out)
        got = spark.read.parquet(out).toPandas()
    want = batch_windowed_topk(spark, SF_SMOKE).toPandas()
    key = ["win_start", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["win_start", "user_id", "n_events", "rank"]],
                                  want[["win_start", "user_id", "n_events", "rank"]])


def test_spooled_drain_zero_batches_returns_empty(spark, tmp_path):
    """ADVICE r8: a stream whose availableNow drain fires ZERO batches
    never writes the parquet spool; the spooled drains must return an
    empty frame with the stream schema instead of raising
    path-not-found."""
    empty_dir = tmp_path / "no_files"
    empty_dir.mkdir()
    stream = spark.readStream.schema("k long, v double").parquet(str(empty_dir))

    agg = stream.groupBy("k").agg(F.sum("v").alias("sv"))
    out_c = run_complete_spooled(agg, "zero_batch_complete")
    assert out_c.count() == 0
    assert set(out_c.columns) == {"k", "sv"}

    out_u = run_update_spooled(
        stream.groupBy("k").agg(F.count("*").alias("n")), "zero_batch_update"
    )
    assert out_u.count() == 0
    assert set(out_u.columns) == {"k", "n"}

    out_a = run_append_spooled(stream.dropDuplicates(["k"]), "zero_batch_append")
    assert out_a.count() == 0
    assert set(out_a.columns) == {"k", "v"}


def test_append_spool_equals_memory_sink(spark):
    """Round-9 drain swap: the append-mode parquet spool must return
    exactly the memory sink's row set (union of per-trigger emissions —
    each append-mode row emits once, on the trigger that produced it).
    Pinned on the real replay source with multi-batch triggering, the
    same shape the four switched e2e keys use. The reference is Spark's
    own memory sink, written out here: the engine drains only through
    replay.drain."""
    import tempfile

    def memory_sink(stream_df, name):
        with tempfile.TemporaryDirectory() as ckpt:
            (
                stream_df.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return spark.sql(f"SELECT * FROM {name}")

    def drained(runner, name):
        stream = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
            "user_id", "event_type"
        )
        out = runner(stream.dropDuplicates(["user_id", "event_type"]), name)
        return sorted(map(tuple, out.collect()))

    spooled = drained(run_append_spooled, "parity_append_spool")
    memory = drained(memory_sink, "parity_append_memory")
    assert spooled == memory
    assert len(spooled) > 0


def test_cc_edge_stream_follows_orders_rewrite(spark, tmp_path):
    """The edge stream is lineitem ⋈ orders, so its chunk cache must be
    keyed on both files: rewriting only orders.parquet (every o_custkey
    shifted) must make the next call stream the new edges."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from flink_streaming_gnn_spark.graph.edges import derive_edges
    from flink_streaming_gnn_spark.sources.tables import table_path
    from flink_streaming_gnn_spark.streaming.graphcc import edges_stream

    fixture = str(tmp_path / "sf")
    os.makedirs(fixture)
    for name in ("lineitem", "orders"):
        shutil.copyfile(table_path(SF_SMOKE, name), table_path(fixture, name))

    def streamed_srcs(query_name):
        out = run_append_spooled(edges_stream(spark, fixture), query_name)
        return {r["src"] for r in out.select("src").distinct().collect()}

    before = streamed_srcs("cc_edges_before_orders_rewrite")
    assert before == {
        r["src"] for r in derive_edges(spark, fixture).select("src").distinct().collect()
    }

    orders = pq.read_table(table_path(fixture, "orders"))
    shift = 1_000_000
    i = orders.schema.get_field_index("o_custkey")
    shifted = pc.add(orders.column(i), pa.scalar(shift, orders.schema.field(i).type))
    orders = orders.set_column(i, "o_custkey", shifted)
    pq.write_table(orders, table_path(fixture, "orders"))

    after = streamed_srcs("cc_edges_after_orders_rewrite")
    assert after == {s + shift for s in before}


def test_finished_process_leaves_no_stream_artifacts(tmp_path):
    """Every per-call stream artifact — spools, sinks, kept and temporary
    checkpoints, the CC label versions — lives in process scratch: a
    fresh process that runs the streaming keys and exits normally leaves
    none of them in its temp dir."""
    import subprocess
    import sys

    script = f"""
from flink_streaming_gnn_spark.session import get_spark
from flink_streaming_gnn_spark.streaming.e2e import (
    stream_cdc_snapshot,
    stream_windowed_topk,
)
from flink_streaming_gnn_spark.streaming.graphcc import stream_cc_e2e
from flink_streaming_gnn_spark.streaming.scd2 import stream_scd2_e2e
from flink_streaming_gnn_spark.streaming.sources import source_rate_ingest

spark = get_spark(app_name="no_leftovers", cpus=2)
for key in (
    stream_cc_e2e,
    stream_windowed_topk,
    stream_cdc_snapshot,
    stream_scd2_e2e,
    source_rate_ingest,
):
    assert key(spark, {SF_SMOKE!r}).count() > 0, key.__name__
"""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env, check=True, timeout=900
    )
    left = sorted(
        p.name
        for p in tmp_path.iterdir()
        if p.name.startswith(("graft_", "stream_", "cc_state_"))
    )
    assert left == []
