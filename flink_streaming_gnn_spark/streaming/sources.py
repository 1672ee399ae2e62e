"""Streaming source builders (SURVEY.md §2A A1: "file line / Kafka topic").

A real deployment's first question is "where does the stream come in".
Spark answers with ``readStream.format(...)`` sources that all yield the
same wire shape, so every downstream plan (windows, stateful ops, the
windowed GNN) is source-agnostic:

- ``kafka_events_stream`` — the production path: ``format("kafka")`` with
  the standard option surface (bootstrap servers, subscribe, offsets).
  There is no broker in this sandbox, so the builder is exercised through
  ``decode_events``'s plan on the file-backed double below; the builder
  itself only composes documented DataSource v2 options.
- ``wire_events_stream`` — the test double: the parquet events fixture
  re-encoded to the exact Kafka wire schema (key/value binary + topic/
  partition/offset/timestamp) and replayed as a file stream. Because both
  sources produce the same columns, ``decode_events`` — and everything
  after it — is byte-for-byte the same plan either way (asserted in
  tests/test_sources.py).

Decode is pure JVM (``from_json`` + casts): no Python in the hot path, and
the JSON parse runs inside whole-stage codegen per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table

# the events table's logical schema, as carried inside the Kafka message value
EVENTS_JSON_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)

# columns every Spark Kafka source row carries (the wire contract the test
# double reproduces)
KAFKA_WIRE_COLUMNS = (
    "key",
    "value",
    "topic",
    "partition",
    "offset",
    "timestamp",
    "timestampType",
)


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> DataFrame:
    """Production events stream from a Kafka topic, decoded to the events
    schema. Partition-parallel by construction: one Spark input partition
    per Kafka topic-partition, so parallelism scales with the topic, and
    ``maxOffsetsPerTrigger`` bounds per-micro-batch intake (backpressure).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return decode_events(reader.load())


def decode_events(wire: DataFrame) -> DataFrame:
    """Kafka wire rows (key/value binary + metadata) → typed events rows.
    Works identically on a real Kafka source, the file-backed double, or a
    batch DataFrame with the same columns (used by the oracle-checked
    round-trip query below)."""
    return wire.select(
        F.from_json(F.col("value").cast("string"), EVENTS_JSON_SCHEMA).alias("e")
    ).select("e.*")


def encode_events_wire(events: DataFrame, topic: str = "events") -> DataFrame:
    """Events rows → Kafka wire shape (the inverse of decode_events; used
    by the test double and by any sink that writes back to Kafka). The key
    is the partitioning identity (user_id) so a keyed topic preserves
    per-user ordering — the same contract the reference's keyBy gave."""
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        .cast("binary")
        .alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod("user_id", F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )


def wire_events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-backed Kafka double: the events fixture encoded to the wire
    schema and replayed as a multi-file stream (several micro-batches),
    then decoded by the SAME decode_events the production path uses.
    The encoded wire copy is per-process scratch (sources/scratch.py)."""
    import os

    from flink_streaming_gnn_spark.sources.scratch import (
        fixture_fingerprint,
        scratch_dir,
    )

    wire_dir = scratch_dir(
        "events_wire",
        "wire:" + fixture_fingerprint(os.path.join(sf_dir, "events.parquet")),
        lambda staging: encode_events_wire(load_table(spark, sf_dir, "events"))
        .repartition(8, "key")
        .write.mode("overwrite")
        .parquet(staging),
    )
    reader = spark.readStream.schema(
        "key binary, value binary, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int"
    )
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return decode_events(reader.parquet(wire_dir))


def rate_events_stream(
    spark: SparkSession,
    rows_per_batch: int = 100,
    num_partitions: int = 4,
) -> DataFrame:
    """SURVEY §2B A1's ``rate`` alternative (VERDICT r7 "Next round" #7):
    Spark's built-in ``rate-micro-batch`` source mapped onto the events
    schema, so every downstream plan (windows, stateful ops, the
    windowed GNN) accepts it unchanged — the third interchangeable
    source next to the Kafka builder and the file-stream replay.

    ``rate-micro-batch`` (not plain ``rate``) because it is
    deterministic: exactly ``rows_per_batch`` rows per trigger with
    values 0,1,2,… and a fixed ``startTimestamp`` — which is what makes
    the registry key below oracle-checkable rather than a flaky
    wall-clock-dependent row count. ``numPartitions`` sets source
    parallelism exactly as on a production firehose."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(num_partitions))
        .option("startTimestamp", "0")
        .load()  # columns: timestamp, value (monotonic row number)
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).alias("user_id"),
        F.concat(
            F.lit("type_"), (F.col("value") % 5).cast("string")
        ).alias("event_type"),
        (F.col("value") * 0.5).alias("value"),  # ×0.5 exact in binary
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def source_rate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked drain of the rate source: one availableNow trigger
    of ``rate_events_stream`` (200 rows, all derived from the 0..199
    sequence) through the append-mode parquet spool. The DuckDB twin
    regenerates the same rows from generate_series — a hash match proves
    the rate source's event mapping end to end. Ignores ``sf_dir`` (the
    source is synthetic by nature)."""
    from flink_streaming_gnn_spark.streaming.replay import run_append_spooled

    ev = rate_events_stream(spark, rows_per_batch=200, num_partitions=8)
    return run_append_spooled(ev, "source_rate_ingest")


def source_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked batch evaluation of the wire codec: events →
    encode_events_wire → decode_events must be the identity on every
    column (the property that makes the Kafka path trustworthy without a
    broker in the sandbox). Timestamps formatted to seconds for a
    stable cross-engine hash."""
    ev = load_table(spark, sf_dir, "events")
    decoded = decode_events(encode_events_wire(ev))
    return decoded.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "props",
    )


QUERIES = {
    "source_kafka_roundtrip": source_kafka_roundtrip,
    "source_rate_ingest": source_rate_ingest,
}

ORACLE = {
    "source_rate_ingest": """
        SELECT i AS event_id,
               TIMESTAMP '1970-01-01 00:00:00' AS ts,
               i % 100 AS user_id,
               'type_' || CAST(i % 5 AS VARCHAR) AS event_type,
               CAST(i AS DOUBLE) * 0.5 AS value,
               '{"seq":' || CAST(i AS VARCHAR) || '}' AS props
        FROM generate_series(0, 199) t(i)
    """,
    "source_kafka_roundtrip": """
        SELECT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               user_id,
               event_type,
               round(value, 6) AS value,
               props
        FROM events
    """,
}
