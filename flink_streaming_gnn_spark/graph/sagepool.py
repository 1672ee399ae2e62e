"""GraphSAGE max-pooling aggregator layer (Hamilton et al. 2017, the
"pool" variant; SURVEY.md §2A A7) — completes the engine's aggregator
family: mean (``graph/sage.py``), attention (``graph/attention.py``),
symmetric-norm sum (``graph/gcn.py``), plain sum + MLP (``graph/gin.py``),
and now elementwise max.

Math: with in-neighborhood N(v) over the vertex-space fixture graph,

    m_v[i] = max_{u ∈ N(v)} x_u[i]        (0 when N(v) = ∅)
    h_v    = relu(W_self · x_v + W_pool · m_v)

Max is the one classic aggregator that is NOT a sum — it is still
mergeable (max of maxes), so Spark computes it with map-side partial
aggregation exactly like the sums in the sibling layers: 64 ``F.max``
columns in a single hash agg keyed on the receiving vertex. The linear
heads are literal dot-product expressions (``graph/layers.py``), so the
whole layer stays in whole-stage codegen — no Python.

Scale posture: one shuffle on dst_v carrying 64 doubles per vertex
(partials absorb hot receivers); the feature join is broadcast-gated.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.layers import agg, agg_sql, dense, dense_sql, weights
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 4


def pool_weights() -> tuple[np.ndarray, np.ndarray]:
    """(W_self, W_pool): one draw of both, split in half."""
    w_self, w_pool = weights(47, 2, OUT_DIM, DIM)
    return w_self, w_pool


def graph_sage_pool_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_self, w_pool = pool_weights()
    e = (
        derive_vertex_embeddings(spark, sf_dir)
        .distinct()
        .filter(F.col("src_v") != F.col("dst_v"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    pooled = agg(e, emb, F.max, DIM)
    both = emb.join(pooled, emb.vec_id == pooled.dst_v, "left")
    f = [F.element_at("feat", i) for i in range(1, DIM + 1)]
    m = [F.coalesce(F.col(f"a{i}"), F.lit(0.0)) for i in range(1, DIM + 1)]
    h_cols = [
        F.round(
            F.greatest(F.lit(0.0), dense((f, w_self[j]), (m, w_pool[j]))), 4
        ).alias(f"h{j + 1}")
        for j in range(OUT_DIM)
    ]
    return both.select(F.col("vec_id").cast("long").alias("vec_id"), *h_cols)


def _pool_oracle_sql() -> str:
    w_self, w_pool = pool_weights()
    f = [f"feat[{i}]" for i in range(1, DIM + 1)]
    m = [f"COALESCE(a{i}, 0.0)" for i in range(1, DIM + 1)]
    h_cols = ",\n               ".join(
        f"round(greatest(0.0, {dense_sql((f, w_self[j]), (m, w_pool[j]))}), 4) AS h{j + 1}"
        for j in range(OUT_DIM)
    )
    return f"""
        WITH {EDGES_V_CTE},
        e AS (SELECT DISTINCT src_v, dst_v FROM edges_v WHERE src_v <> dst_v),
        feats AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS feat
                  FROM embeddings),
        pooled AS (
            SELECT e.dst_v,
               {agg_sql("max", DIM)}
            FROM e JOIN feats f ON f.vec_id = e.src_v
            GROUP BY e.dst_v
        )
        SELECT CAST(feats.vec_id AS BIGINT) AS vec_id,
               {h_cols}
        FROM feats LEFT JOIN pooled ON pooled.dst_v = feats.vec_id
    """


QUERIES = {"graph_sage_pool_layer": graph_sage_pool_layer}
ORACLE = {"graph_sage_pool_layer": _pool_oracle_sql()}
