"""GraphOp mutation-stream model tests: batch materialization vs the
streaming stateful twin (latest_state), and the streaming composition of
the reference's pipeline A1→A2→A5→A6 (source → parser → keyed state →
incremental neighbor aggregate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.graphop import graphop_materialize, graphop_stream
from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.replay import (
    events_stream,
    run_update_spooled,
)
from flink_streaming_gnn_spark.streaming.stateful import incremental_mean, latest_state
from tests.conftest import SF_SMOKE


def test_materialize_live_set_excludes_removed(spark):
    ops = graphop_stream(spark, SF_SMOKE).toPandas()
    live = graphop_materialize(spark, SF_SMOKE).toPandas()
    last_op = (
        ops.sort_values("seq").groupby("vertex").last().reset_index()[["vertex", "op"]]
    )
    expect_live = set(last_op[last_op.op != "REMOVE"].vertex)
    assert set(live.vertex) == expect_live
    assert (live.op != "REMOVE").all()


def test_streaming_latest_state_equals_batch_materialize(spark):
    """The stateful LWW operator drained over the replayed op stream must
    agree with the batch ranking-window materialization."""
    stream_ops = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
        F.col("event_id").alias("seq"),
        F.expr(
            "CASE event_type WHEN 'signup' THEN 'ADD' WHEN 'error' THEN 'REMOVE' "
            "ELSE 'UPDATE' END"
        ).alias("op"),
        F.col("user_id").alias("vertex"),
        F.col("value").alias("feat_value"),
    )
    out = run_update_spooled(
        latest_state(stream_ops, "vertex", "seq"), "graphop_lww"
    ).toPandas()
    # final state per vertex = its emitted row with the largest seq (the
    # operator's monotone column; spool rows carry no emission order)
    final = out.sort_values("seq").drop_duplicates("vertex", keep="last")
    live = final[final.op != "REMOVE"]

    batch = graphop_materialize(spark, SF_SMOKE).toPandas()
    merged = live.merge(batch, on="vertex", suffixes=("_s", "_b"))
    assert set(live.vertex) == set(batch.vertex)
    assert (merged.op_s == merged.op_b).all()
    assert (abs(merged.feat_value_s.round(4) - merged.feat_value_b) < 1e-9).all()


def test_streaming_neighbor_agg_pipeline(spark):
    """Reference pipeline end-to-end in streaming: event source (A1) →
    parse to edge messages (A2) → stream-static join to vertex features →
    keyed incremental mean (A5/A6). Final streamed state == batch twin."""
    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_acctbal")
    msgs = (
        events_stream(spark, SF_SMOKE, files_per_trigger=2)
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .select(F.col("user_id").alias("key"), F.col("c_acctbal").alias("value"))
    )
    streamed = run_update_spooled(
        incremental_mean(msgs, "key", "value"), "nbr_agg_stream"
    ).toPandas()
    final = streamed.sort_values("running_count").drop_duplicates("key", keep="last")

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("user_id").alias("key"))
        .agg(
            F.count("*").cast("long").alias("running_count"),
            F.avg("c_acctbal").alias("running_mean"),
        )
        .toPandas()
    )
    merged = final.merge(batch, on="key", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) > 0
    assert (merged.running_count_s == merged.running_count_b).all()
    assert (abs(merged.running_mean_s - merged.running_mean_b) < 1e-9).all()
