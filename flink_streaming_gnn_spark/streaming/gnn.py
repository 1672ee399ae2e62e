"""Windowed GNN embedding layer — the reference's A8
"SessionWindowedGNNEmbeddingLayer" (SURVEY.md §2A: coalesce per-vertex
recomputations inside a time window, dedupe redundant updates, run the NN
once per window on a batched tensor — its headline throughput lever).

Spark-first: the *plan is the same in batch and streaming* — a windowed
neighbor aggregation (one hash aggregate keyed on (window, dst vertex):
the window coalesces every edge arrival for a vertex into one row = the
reference's dedup) followed by one Arrow-batched numpy forward (Arrow
batches = the reference's tensor batching). Under Structured Streaming the
aggregation runs incrementally in the state store per micro-batch; the
batch query below and the streamed replay are asserted equal in
tests/test_streaming_gnn.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EMB_MOD
from flink_streaming_gnn_spark.graph.sage import (
    DIM,
    flat_h,
    flat_h_sql,
    forward_udf,
    neighbor_mean,
    neighbor_mean_sql,
    sage_weights,
    vertex_features,
)
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.scratch import fixture_fingerprint, scratch_dir
from flink_streaming_gnn_spark.sources.tables import load_table, table_path


def edges_v_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge events in embedding-vertex space with event time (reference A1:
    each lineitem row is one timestamped edge arrival)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.pmod("o_custkey", F.lit(EMB_MOD)).cast("long").alias("src_v"),
        F.pmod("l_suppkey", F.lit(EMB_MOD)).cast("long").alias("dst_v"),
        F.col("l_shipdate").alias("ts"),
    )


def edges_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-source view of ``edges_v_with_ts``: the edge events
    hash-chunked into 8 parquet files replayed 2 per trigger, built once
    per process from the fixture and gone at exit (sources/scratch.py:
    a fresh run derives everything from the fixture inputs)."""
    chunk_dir = scratch_dir(
        "gnn_edge_chunks",
        fixture_fingerprint(
            table_path(sf_dir, "lineitem"), table_path(sf_dir, "orders")
        ),
        lambda staging: edges_v_with_ts(spark, sf_dir)
        .repartition(8)
        .write.mode("overwrite")
        .parquet(staging),
    )
    return (
        spark.readStream.schema("src_v long, dst_v long, ts timestamp")
        .option("maxFilesPerTrigger", 2)
        .parquet(chunk_dir)
    )


def windowed_sage(edges: DataFrame, features: DataFrame) -> DataFrame:
    """Per-(calendar-year window, vertex) SAGE forward. ``edges`` may be a
    batch or streaming DataFrame with (src_v, dst_v, ts); ``features`` is
    the static (vec_id, feat) table, broadcast into the stream.

    Stage 1 — windowed coalescing aggregate (``sage.neighbor_mean`` keyed
    on the window too): every arrival for a vertex in a window collapses
    into one 64-dim running mean (the A8 dedup); one shuffle on (window,
    dst_v). Stage 2 — batched forward (``sage.forward_udf``): one pandas
    UDF call per Arrow batch of coalesced vertices (the A8 batched tensor
    op).
    """
    agg_arr = neighbor_mean(edges, features, DIM, by=(F.year("ts").alias("yr"), "dst_v"))
    out = agg_arr.join(maybe_broadcast(features), agg_arr.dst_v == features.vec_id).select(
        F.col("yr").cast("long").alias("yr"),
        "vec_id",
        forward_udf(*sage_weights())("feat", "agg").alias("h"),
    )
    return flat_h(out, "yr", "vec_id")


def graph_sage_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch evaluation of the windowed forward (the streamed replay of the
    identical plan is asserted equal in tests)."""
    return windowed_sage(edges_v_with_ts(spark, sf_dir), vertex_features(spark, sf_dir))


def _windowed_oracle_sql() -> str:
    return f"""
        WITH edges_t AS (
            SELECT o_custkey % {EMB_MOD} AS src_v, l_suppkey % {EMB_MOD} AS dst_v,
                   l_shipdate AS ts
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        {neighbor_mean_sql("edges_t", "agg", yr="year(e.ts)")}
        SELECT CAST(a.yr AS BIGINT) AS yr, v.vec_id,
               {flat_h_sql(*sage_weights())}
        FROM embeddings v JOIN agg a ON v.vec_id = a.dst_v
    """


QUERIES = {"graph_sage_windowed": graph_sage_windowed}
ORACLE = {"graph_sage_windowed": _windowed_oracle_sql()}
