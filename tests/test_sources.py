"""Kafka source contract tests (SURVEY.md §2A A1 "Kafka topic").

No broker exists in the sandbox, so the production builder is proven three
ways: (1) the wire codec round-trips the events table exactly (also an
oracle-checked registry key); (2) the SAME downstream windowed plan runs
unchanged on the file-backed wire double and equals the batch twin;
(3) the production builder composes the documented Kafka options and fails
only at the data-source-resolution step (the connector jar / broker are
deployment concerns, not plan concerns).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.streaming.replay import run_complete_spooled
from flink_streaming_gnn_spark.streaming.sources import (
    decode_events,
    encode_events_wire,
    kafka_events_stream,
    source_kafka_roundtrip,
    wire_events_stream,
)
from tests.conftest import SF_SMOKE


def _windowed_agg(events_df):
    """The downstream plan under test — written ONCE, applied to any
    source that yields the events schema (stream or batch)."""
    return (
        events_df.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("v"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
            "v",
        )
    )


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_wire_codec_roundtrip_identity(spark):
    """encode → decode is the identity on every events column."""
    ev = load_table(spark, SF_SMOKE, "events")
    decoded = decode_events(encode_events_wire(ev)).toPandas()
    orig = ev.toPandas()
    assert len(decoded) == len(orig)
    a = _canon(decoded[["event_id", "user_id", "event_type", "props"]])
    b = _canon(orig[["event_id", "user_id", "event_type", "props"]])
    pd.testing.assert_frame_equal(a, b)
    # doubles survive the JSON hop bit-exactly (Jackson shortest-roundtrip)
    av = _canon(decoded[["event_id", "value"]])
    bv = _canon(orig[["event_id", "value"]])
    pd.testing.assert_frame_equal(av, bv)


def test_registry_roundtrip_key_runs(spark):
    out = source_kafka_roundtrip(spark, SF_SMOKE)
    assert out.count() == load_table(spark, SF_SMOKE, "events").count()


def test_same_windowed_plan_on_wire_double_equals_batch(spark):
    """The downstream windowed aggregation — defined once — streamed over
    the Kafka wire double equals its batch evaluation: the source swap
    changes nothing downstream."""
    stream = wire_events_stream(spark, SF_SMOKE, files_per_trigger=2)
    streamed = run_complete_spooled(
        _windowed_agg(stream.withWatermark("ts", "1 hour")), "kafka_double_win"
    ).toPandas()
    batch = _windowed_agg(load_table(spark, SF_SMOKE, "events")).toPandas()
    pd.testing.assert_frame_equal(_canon(streamed), _canon(batch))


def test_kafka_builder_composes_until_source_resolution(spark):
    """The production builder's plan surface is correct: it must fail only
    because the kafka connector/broker is absent from the sandbox (data
    source resolution), never with an option/schema/analysis error."""
    try:
        df = kafka_events_stream(
            spark,
            bootstrap_servers="localhost:9092",
            topic="events",
            max_offsets_per_trigger=1000,
        )
    except Exception as exc:  # connector jar not shipped in this container
        msg = str(exc).lower()
        assert "kafka" in msg and ("failed to find" in msg or "data source" in msg)
    else:
        # connector present: the decoded stream must carry the events schema
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == [
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        ]


def test_connector_probe_and_guarded_builders(spark):
    """Optional connectors (Delta/Iceberg/JDBC) must probe the classpath
    honestly and fail with a precise error when absent — never an opaque
    ClassNotFoundException mid-job."""
    import pytest

    from flink_streaming_gnn_spark.sources.connectors import (
        ConnectorUnavailable,
        connector_support,
        read_delta,
        read_iceberg,
        read_jdbc,
    )

    support = {r.connector: r.available for r in connector_support(spark).collect()}
    assert set(support) == {"delta", "iceberg", "jdbc-postgres"}
    # this image ships none of the optional jars
    for name, avail in support.items():
        if not avail:
            pass  # expected here; builders below must then raise cleanly
    if not support["delta"]:
        with pytest.raises(ConnectorUnavailable, match="delta-spark"):
            read_delta(spark, "/tmp/nope")
    if not support["iceberg"]:
        with pytest.raises(ConnectorUnavailable, match="iceberg-spark-runtime"):
            read_iceberg(spark, "cat.db.t")
    if not support["jdbc-postgres"]:
        with pytest.raises(ConnectorUnavailable, match="postgresql"):
            read_jdbc(spark, "jdbc:postgresql://db/corp", "t")
    # sharded-read contract: partition column requires bounds
    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(spark, "jdbc:h2:mem:x", "t", partition_column="id")
