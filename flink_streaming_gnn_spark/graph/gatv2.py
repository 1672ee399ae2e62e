"""GATv2 attention layer (Brody, Alon & Yahav, ICLR'22 — "How Attentive
are Graph Attention Networks?"). Completes the attention tier of the
GNN zoo next to ``graph/attention.py``'s GATv1: v1's score
``LeakyReLU(a_s·f_u + a_d·f_v)`` factorizes into per-vertex halves, so
its attention ranking is STATIC (every destination ranks sources the
same way); v2 moves the nonlinearity inside the dot product,

    e_uv = a · LeakyReLU(W_s f_u + W_d f_v)

making attention genuinely query-dependent. That ordering change is
exactly what the plan must honor: the score can no longer be
precomputed per vertex — only the projections can.

Spark-first shape:

  1. per-vertex projections ``W_s f`` / ``W_d f`` (P=8 output channels,
     |V| literal dot products each via zip_with/aggregate — JVM
     higher-order functions, no UDF),
  2. per-edge score = Σ_j a_j · leaky(s_j + d_j) — P=8 scalar
     expressions inside whole-stage codegen, O(P) per edge not O(dim),
  3. softmax + weighted combine shared with GATv1
     (``layers.softmax_combine``): two analytic windows and one hash agg
     all riding a single dst_v exchange.

At 100 TB the per-edge cost is the irreducible part of GATv2 (the
nonlinearity forbids factorization — that's the paper's point); keeping
it at P literal fmas per edge inside codegen is the best possible
shape, and nothing materializes wider than P+1 columns on the edge
list.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.layers import (
    dense,
    dense_sql,
    dot,
    softmax_combine,
    softmax_combine_sql,
    sql_list,
    weights,
)
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
PROJ = 8  # attention projection width
OUT_DIMS = 4  # elements of h_v surfaced as flat oracle-checked columns
LEAK = 0.2


def gatv2_weights() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The projections (W_s, W_d) and the attention vector a."""
    return weights(48, PROJ, DIM), weights(49, PROJ, DIM), weights(50, PROJ)


def graph_gatv2_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_src, w_dst, a = gatv2_weights()
    edges = derive_vertex_embeddings(spark, sf_dir).distinct()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    proj = emb.select(
        "vec_id",
        "feat",
        *[dot("feat", w_src[j]).alias(f"s{j}") for j in range(PROJ)],
        *[dot("feat", w_dst[j]).alias(f"d{j}") for j in range(PROJ)],
    )
    src_side = maybe_broadcast(
        proj.select(
            F.col("vec_id").alias("src_v"),
            F.col("feat").alias("src_feat"),
            *[f"s{j}" for j in range(PROJ)],
        )
    )
    dst_side = maybe_broadcast(
        proj.select(F.col("vec_id").alias("dst_v"), *[f"d{j}" for j in range(PROJ)])
    )

    def leaky(c):
        return F.when(c > 0, c).otherwise(F.lit(LEAK) * c)

    score = dense(([leaky(F.col(f"s{j}") + F.col(f"d{j}")) for j in range(PROJ)], a))
    e_scored = (
        edges.join(src_side, "src_v").join(dst_side, "dst_v").withColumn("score", score)
    )
    return softmax_combine(e_scored, OUT_DIMS)


def _gatv2_oracle_sql() -> str:
    w_src, w_dst, a = gatv2_weights()
    s_cols = ",\n                   ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {sql_list(w_src[j])}) AS s{j}"
        for j in range(PROJ)
    )
    d_cols = ",\n                   ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {sql_list(w_dst[j])}) AS d{j}"
        for j in range(PROJ)
    )
    leaky = [
        f"(CASE WHEN s.s{j} + d.d{j} > 0 THEN s.s{j} + d.d{j}"
        f" ELSE {LEAK} * (s.s{j} + d.d{j}) END)"
        for j in range(PROJ)
    ]
    return f"""
        WITH {EDGES_V_CTE},
        de AS (SELECT DISTINCT src_v, dst_v FROM edges_v),
        proj AS (
            SELECT vec_id,
                   embedding AS feat,
                   {s_cols},
                   {d_cols}
            FROM embeddings
        ),
        es AS (
            SELECT e.dst_v, s.feat AS src_feat,
                   {dense_sql((leaky, a))} AS score
            FROM de e
            JOIN proj s ON s.vec_id = e.src_v
            JOIN proj d ON d.vec_id = e.dst_v
        ),
        {softmax_combine_sql("es", OUT_DIMS)}
    """


QUERIES = {"graph_gatv2_layer": graph_gatv2_layer}
ORACLE = {"graph_gatv2_layer": _gatv2_oracle_sql()}
