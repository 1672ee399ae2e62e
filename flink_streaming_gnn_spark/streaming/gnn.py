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
from flink_streaming_gnn_spark.graph.sage import DIM, OUT_DIM, sage_weights
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

    Stage 1 — windowed coalescing aggregate: every arrival for a vertex in
    a window collapses into one 64-dim running mean (the A8 dedup); one
    shuffle on (window, dst_v). Stage 2 — batched forward: one pandas UDF
    call per Arrow batch of coalesced vertices (the A8 batched tensor op).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    w_self, w_agg = sage_weights()
    ws, wa = w_self.tolist(), w_agg.tolist()

    @pandas_udf(ArrayType(DoubleType()))
    def forward(f_col, a_col):
        import numpy as _np

        w1, w2 = _np.asarray(ws), _np.asarray(wa)
        f = _np.stack([_np.asarray(x, dtype=_np.float64) for x in f_col])
        a = _np.stack([_np.asarray(x, dtype=_np.float64) for x in a_col])
        return pd.Series(list(_np.maximum(f @ w1.T + a @ w2.T, 0.0)))

    joined = edges.join(maybe_broadcast(features), edges.src_v == features.vec_id)
    aggs = [
        F.avg(F.element_at(F.col("feat").cast("array<double>"), i)).alias(f"_a{i}")
        for i in range(1, DIM + 1)
    ]
    per_win = joined.groupBy(F.year("ts").alias("yr"), "dst_v").agg(*aggs)
    agg_arr = per_win.select(
        "yr", "dst_v", F.array(*[f"_a{i}" for i in range(1, DIM + 1)]).alias("agg")
    )
    out = agg_arr.join(maybe_broadcast(features), agg_arr.dst_v == features.vec_id).select(
        F.col("yr").cast("long").alias("yr"),
        "vec_id",
        forward("feat", "agg").alias("h"),
    )
    return out.select(
        "yr",
        "vec_id",
        *[F.round(F.element_at("h", i), 4).alias(f"h{i}") for i in range(1, OUT_DIM + 1)],
    )


def graph_sage_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch evaluation of the windowed forward (the streamed replay of the
    identical plan is asserted equal in tests)."""
    features = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    return windowed_sage(edges_v_with_ts(spark, sf_dir), features)


def _windowed_oracle_sql() -> str:
    w_self, w_agg = sage_weights()

    def vec(row) -> str:
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    h_cols = ",\n               ".join(
        "round(greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {vec(w_self[i])})"
        f" + list_dot_product(a.aggv, {vec(w_agg[i])})), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH edges_t AS (
            SELECT o_custkey % {EMB_MOD} AS src_v, l_suppkey % {EMB_MOD} AS dst_v,
                   l_shipdate AS ts
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        per_pos AS (
            SELECT year(e.ts) AS yr, e.dst_v, p.pos,
                   avg(CAST(em.embedding[p.pos] AS DOUBLE)) AS m
            FROM edges_t e
            JOIN embeddings em ON em.vec_id = e.src_v
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY year(e.ts), e.dst_v, p.pos
        ),
        agg AS (
            SELECT yr, dst_v, list(m ORDER BY pos) AS aggv
            FROM per_pos GROUP BY yr, dst_v
        )
        SELECT CAST(a.yr AS BIGINT) AS yr, v.vec_id,
               {h_cols}
        FROM embeddings v JOIN agg a ON v.vec_id = a.dst_v
    """


QUERIES = {"graph_sage_windowed": graph_sage_windowed}
ORACLE = {"graph_sage_windowed": _windowed_oracle_sql()}
