"""GIN convolution layer (Xu et al. ICLR 2019, "How Powerful are Graph
Neural Networks?") — completes the engine's GNN-architecture zoo next to
SAGE (mean-agg + Arrow numpy forward), GAT (attention), and GCN
(normalized sum, all-JVM): GIN is the *sum*-aggregation + MLP design that
is provably as expressive as the WL test, and its 2-layer MLP head shows
a full MLP riding whole-stage codegen as literal expressions.

    agg_v = (1 + ε)·x_v + Σ_{(u,v) ∈ E} x_u          (raw sum, no norm)
    h_v   = W2 · relu(W1 · agg_v)                     (64→8→4 MLP)

Spark-first: the neighbor sum is one hash aggregate with 64 sum()
expressions riding a single shuffle on dst_v (map-side partials absorb
hubs); the self term joins in as a vertex-table projection; the MLP is
8 + 4 literal dot-product expressions — zero Python end-to-end. The
literal weights (``graph/layers.py``) put aggregation, ε-weighting, both
matmuls and the ReLU under the oracle hash; the output layer has no ReLU,
so it takes the kit's ``+ 0.0`` negative-zero rule.

At 100 TB: identical shape to graph_gcn_layer — degrees aren't even
needed (sum aggregation), so this is one edge-subtree cheaper.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.layers import agg, agg_sql, dense, dense_sql, weights
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
HID = 8
OUT_DIM = 4
EPS = 0.1


def gin_weights() -> tuple[np.ndarray, np.ndarray]:
    return weights(47, HID, DIM), weights(48, OUT_DIM, HID)


def graph_gin_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w1, w2 = gin_weights()
    e = derive_vertex_embeddings(spark, sf_dir).distinct()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    nbr_sum = agg(e, emb, F.sum, DIM)
    # (1+ε)·x_v + Σ; vertices with no in-neighbors keep just the self term
    a = emb.join(nbr_sum, emb.vec_id == nbr_sum.dst_v, "left").select(
        "vec_id",
        *[
            (
                F.lit(1.0 + EPS) * F.element_at("feat", i)
                + F.coalesce(F.col(f"a{i}"), F.lit(0.0))
            ).alias(f"a{i}")
            for i in range(1, DIM + 1)
        ],
    )
    a_cols = [F.col(f"a{i}") for i in range(1, DIM + 1)]
    hid = a.select(
        "vec_id",
        *[
            F.greatest(F.lit(0.0), dense((a_cols, w1[j]))).alias(f"r{j + 1}")
            for j in range(HID)
        ],
    )
    r_cols = [F.col(f"r{i}") for i in range(1, HID + 1)]
    return hid.select(
        "vec_id",
        *[
            (F.round(dense((r_cols, w2[j])), 4) + F.lit(0.0)).alias(f"h{j + 1}")
            for j in range(OUT_DIM)
        ],
    )


def _gin_oracle_sql() -> str:
    w1, w2 = gin_weights()
    a_cols = [f"a{i}" for i in range(1, DIM + 1)]
    r_cols = [f"r{i}" for i in range(1, HID + 1)]
    self_cols = ",\n               ".join(
        f"(({1.0 + EPS!r}) * feat[{i}] + COALESCE(a{i}, 0.0)) AS a{i}"
        for i in range(1, DIM + 1)
    )
    hid_cols = ",\n               ".join(
        f"greatest(0.0, {dense_sql((a_cols, w1[j]))}) AS r{j + 1}" for j in range(HID)
    )
    out_cols = ",\n               ".join(
        f"(round({dense_sql((r_cols, w2[j]))}, 4) + 0.0) AS h{j + 1}"
        for j in range(OUT_DIM)
    )
    return f"""
        WITH {EDGES_V_CTE},
        e AS (SELECT DISTINCT src_v, dst_v FROM edges_v),
        emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS feat FROM embeddings),
        nbr AS (
            SELECT e.dst_v,
               {agg_sql("sum", DIM)}
            FROM e JOIN emb ON emb.vec_id = e.src_v
            GROUP BY e.dst_v
        ),
        agg AS (
            SELECT emb.vec_id,
               {self_cols}
            FROM emb LEFT JOIN nbr ON nbr.dst_v = emb.vec_id
        ),
        hid AS (
            SELECT vec_id,
               {hid_cols}
            FROM agg
        )
        SELECT vec_id,
               {out_cols}
        FROM hid
    """


QUERIES = {"graph_gin_layer": graph_gin_layer}
ORACLE = {"graph_gin_layer": _gin_oracle_sql()}
