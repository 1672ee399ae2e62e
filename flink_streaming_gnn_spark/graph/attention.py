"""Graph attention (GAT-style) embedding layer — the attention-weighted
counterpart of the SAGE mean aggregator (SURVEY.md §2A A7; Veličković et
al., ICLR'18 single-head form):

    e_uv = LeakyReLU(a_s·f_u + a_d·f_v)
    α_uv = softmax_u(e_uv)          (normalized over v's in-neighbors)
    h_v  = Σ_u α_uv · f_u

Spark-first shape — the whole layer is one declarative plan, no Python:

  1. per-vertex attention scores ``a_s·f`` / ``a_d·f`` are computed ONCE on
     the (small) vertex-feature table via ``F.aggregate(F.zip_with(...))``
     — JVM higher-order functions, not a UDF — then joined onto the edge
     list. Dot products happen |V| times, not |E| times.
  2. softmax = two analytic window functions over dst (max for numerical
     stability, sum for the normalizer) — exactly Spark's partial-window
     pattern, one shuffle on dst shared by both.
  3. the weighted combine is a hash aggregate with per-element
     sum(α·f_u[i]) expressions, same shuffle key, so AQE coalesces the
     exchanges. Steps 2–3 are the kit's ``layers.softmax_combine``,
     shared with GATv2.

Scale posture: no step materializes anything bigger than the edge list +
O(1) columns; a hot vertex costs one window partition O(deg). The feature
join uses the broadcast-gated helper pattern via plain Catalyst estimates
(features table is |V|×dim and grows with the graph).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.layers import (
    dot,
    softmax_combine,
    softmax_combine_sql,
    sql_list,
    weights,
)
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIMS = 4  # elements of h_v surfaced as flat oracle-checked columns
LEAK = 0.2


def gat_weights() -> tuple[np.ndarray, np.ndarray]:
    """The attention vectors (a_src, a_dst)."""
    return weights(46, DIM), weights(47, DIM)


def graph_gat_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    a_src, a_dst = gat_weights()
    edges = derive_vertex_embeddings(spark, sf_dir).distinct()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    # per-vertex halves of the additive attention score (|V| dot products)
    feat = F.col("feat").cast("array<double>")
    scored = emb.select(
        "vec_id",
        feat.alias("feat"),
        dot(feat, a_src).alias("s_half"),
        dot(feat, a_dst).alias("d_half"),
    )
    src_side = maybe_broadcast(
        scored.select(
            F.col("vec_id").alias("src_v"),
            F.col("feat").alias("src_feat"),
            "s_half",
        )
    )
    dst_side = maybe_broadcast(scored.select(F.col("vec_id").alias("dst_v"), "d_half"))
    raw = F.col("s_half") + F.col("d_half")
    e_scored = (
        edges.join(src_side, "src_v")
        .join(dst_side, "dst_v")
        .withColumn(
            "score", F.when(raw > 0, raw).otherwise(F.lit(LEAK) * raw)
        )
    )
    return softmax_combine(e_scored, OUT_DIMS)


def _gat_oracle_sql() -> str:
    a_src, a_dst = gat_weights()
    return f"""
        WITH {EDGES_V_CTE},
        de AS (SELECT DISTINCT src_v, dst_v FROM edges_v),
        scored AS (
            SELECT vec_id,
                   embedding AS feat,
                   list_dot_product(CAST(embedding AS DOUBLE[]), {sql_list(a_src)}) AS s_half,
                   list_dot_product(CAST(embedding AS DOUBLE[]), {sql_list(a_dst)}) AS d_half
            FROM embeddings
        ),
        es AS (
            SELECT e.dst_v, s.feat AS src_feat,
                   CASE WHEN s.s_half + d.d_half > 0
                        THEN s.s_half + d.d_half
                        ELSE {LEAK} * (s.s_half + d.d_half) END AS score
            FROM de e
            JOIN scored s ON s.vec_id = e.src_v
            JOIN scored d ON d.vec_id = e.dst_v
        ),
        {softmax_combine_sql("es", OUT_DIMS)}
    """


QUERIES = {"graph_gat_layer": graph_gat_layer}
ORACLE = {"graph_gat_layer": _gat_oracle_sql()}
