"""GCN convolution layer (Kipf & Welling 2017, adapted to the directed
fixture graph) — the reference's other canonical embedding layer next to
GraphSAGE (SURVEY.md §2A A7). Where ``graph/sage.py`` demonstrates the
Arrow-batched numpy forward, this layer is deliberately **100% JVM**: the
symmetric-normalized aggregation is 64 weighted sums and the 64→4 linear
head is four literal dot-product expressions — the whole layer is one
whole-stage-codegen pipeline with a single shuffle (on the receiving
vertex), no Python anywhere.

Math (directed normalization): with self-loops added and
``d̂out(u) = dout(u)+1``, ``d̂in(v) = din(v)+1``,

    agg_v = Σ_{(u,v) ∈ E∪{(v,v)}}  x_u / sqrt(d̂out(u) · d̂in(v))
    h_v   = relu(W · agg_v)

Weights follow the literal-weight discipline of ``graph/layers.py``, so
the full layer — normalization, aggregation, matmul, ReLU — is
hash-checked end-to-end against its DuckDB twin.

At 100 TB: degrees are two O(|E|) hash aggs producing |V|-sized tables
(broadcast-gated); the message aggregation shuffles once on dst_v with
map-side partial sums absorbing hot vertices. The 64-wide agg keeps row
count at |V|, never |E|×dim.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.layers import (
    NORMALIZED_EDGES_CTE,
    agg,
    agg_sql,
    dense,
    dense_sql,
    normalized_edges,
    weights,
)
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 4


def gcn_weights() -> np.ndarray:
    return weights(46, OUT_DIM, DIM)


def graph_gcn_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = gcn_weights()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    a = agg(normalized_edges(spark, sf_dir), emb, F.sum, DIM, weight="norm")
    cols = [F.col(f"a{i}") for i in range(1, DIM + 1)]
    h_cols = [
        F.round(F.greatest(F.lit(0.0), dense((cols, w[j]))), 4).alias(f"h{j + 1}")
        for j in range(OUT_DIM)
    ]
    return a.select(F.col("dst_v").alias("vec_id"), *h_cols)


def _gcn_oracle_sql() -> str:
    w = gcn_weights()
    cols = [f"a{i}" for i in range(1, DIM + 1)]
    h_cols = ",\n               ".join(
        f"round(greatest(0.0, {dense_sql((cols, w[j]))}), 4) AS h{j + 1}"
        for j in range(OUT_DIM)
    )
    return f"""
        WITH {NORMALIZED_EDGES_CTE},
        msgs AS (
            SELECT ne.dst_v, ne.norm, CAST(emb.embedding AS DOUBLE[]) AS feat
            FROM norm_edges ne JOIN embeddings emb ON emb.vec_id = ne.src_v
        ),
        agg AS (
            SELECT dst_v,
               {agg_sql("sum", DIM, weight="norm")}
            FROM msgs GROUP BY dst_v
        )
        SELECT dst_v AS vec_id,
               {h_cols}
        FROM agg
    """


QUERIES = {"graph_gcn_layer": graph_gcn_layer}
ORACLE = {"graph_gcn_layer": _gcn_oracle_sql()}
