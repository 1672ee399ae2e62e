"""GraphSAGE-style embedding layer — the reference's streaming GNN forward
(SURVEY.md §2A A7/A8: ``h_v = σ(W_self·f_v + W_agg·agg_v)``, neural math on
DL4J/ND4J per /root/reference/README.md:2) re-expressed Spark-first:

  1. neighbor aggregation = broadcast join + ONE hash aggregate with 64
     per-element avg() expressions (pure JVM, whole-stage codegen, no row
     blowup, no Python) — the incremental MeanAggregator (A6) as a plan;
  2. the NN forward = one Arrow-batched pandas UDF doing a numpy matmul
     over the whole batch — the reference's "windowed forward" tensor
     batching (A8), with Arrow batches playing the role of the window.

The literal weights of ``graph/layers.py`` are embedded in the generated
DuckDB oracle SQL, so a 4×64 matmul + ReLU is checked end-to-end against
``list_dot_product`` twins. ``streaming/gnn.py``'s windowed layer runs
this module's neighbour mean and forward, and its twin this module's SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.layers import agg, dense_sql, sql_list, weights
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 4


def sage_weights(layer: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """(W_self, W_agg) of layer 1 (64 → 4) or layer 2 (4 → 4)."""
    in_dim = DIM if layer == 1 else OUT_DIM
    seed = 40 + 2 * layer
    return weights(seed, OUT_DIM, in_dim), weights(seed + 1, OUT_DIM, in_dim)


def neighbor_mean(
    edges_v: DataFrame, features: DataFrame, dim: int, by: Sequence[str | Column] = ("dst_v",)
) -> DataFrame:
    """Per-``by`` mean of in-neighbor feature vectors, as (``by``…, agg).

    JVM-only (``layers.agg``): one join + one hash aggregate with ``dim``
    element-wise avg() columns; scales to arbitrary edge counts with a
    single shuffle on the key (partial aggregation handles hot vertices).
    ``features`` must have (vec_id, feat array<…>).
    """
    per_key = agg(edges_v, features, F.avg, dim, by=by)
    return per_key.select(
        *per_key.columns[: len(by)],
        F.array(*[f"a{i}" for i in range(1, dim + 1)]).alias("agg"),
    )


def forward_udf(w_self: np.ndarray, w_agg: np.ndarray):
    """h = relu(W_self @ f + W_agg @ a) as an Arrow-batched numpy matmul,
    a pandas UDF of (feat, agg)."""
    ws, wa = w_self.tolist(), w_agg.tolist()  # pickled by value into the UDF

    @pandas_udf(ArrayType(DoubleType()))
    def forward(f_col, a_col):
        import numpy as _np

        w1 = _np.asarray(ws)
        w2 = _np.asarray(wa)
        f = _np.stack([_np.asarray(x, dtype=_np.float64) for x in f_col])
        a = _np.stack([_np.asarray(x, dtype=_np.float64) for x in a_col])
        h = _np.maximum(f @ w1.T + a @ w2.T, 0.0)
        return pd.Series(list(h))

    return forward


def sage_forward(
    vertices: DataFrame, neighbor_agg: DataFrame, w_self: np.ndarray, w_agg: np.ndarray
) -> DataFrame:
    """``forward_udf`` over ``vertices`` (vec_id, feat) ⋈ ``neighbor_agg``
    (dst_v, agg). Inner join: only vertices with at least one in-neighbor
    get an output (same semantics in the oracle twin)."""
    return vertices.join(neighbor_agg, vertices.vec_id == neighbor_agg.dst_v).select(
        "vec_id", forward_udf(w_self, w_agg)("feat", "agg").alias("h")
    )


def flat_h(h: DataFrame, *keys: str) -> DataFrame:
    """``keys`` plus the ``h`` array as flat 4-dp columns h1..h4."""
    return h.select(
        *keys,
        *[F.round(F.element_at("h", i), 4).alias(f"h{i}") for i in range(1, OUT_DIM + 1)],
    )


def vertex_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layer-1 vertex features (vec_id, feat) of the fixture."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )


def graph_sage_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full SAGE layer over the tensor fixture graph (64 → 4 dims),
    output as flat rounded columns for the oracle hash."""
    emb = vertex_features(spark, sf_dir)
    a = neighbor_mean(derive_vertex_embeddings(spark, sf_dir), emb, DIM)
    return flat_h(sage_forward(emb, a, *sage_weights()), "vec_id")


def graph_sage_2layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained SAGE layers (reference A9 next-layer forward: layer ℓ's
    output DataFrame is layer ℓ+1's vertex-feature input — the acyclic
    chain replaces the reference's operator-to-operator GraphOp forwarding).
    Layer 2 works on 4-dim features."""
    edges_v = derive_vertex_embeddings(spark, sf_dir)
    emb = vertex_features(spark, sf_dir)
    h1 = sage_forward(emb, neighbor_mean(edges_v, emb, DIM), *sage_weights())

    feats2 = h1.select("vec_id", F.col("h").alias("feat"))
    h2 = sage_forward(feats2, neighbor_mean(edges_v, feats2, OUT_DIM), *sage_weights(2))
    return flat_h(h2, "vec_id")


def neighbor_mean_sql(edges: str, out: str, **keys: str) -> str:
    """Twin of ``neighbor_mean`` over the CTE ``edges`` (src_v, dst_v, …):
    the CTEs ``per_pos`` and ``out`` (``keys``…, dst_v, aggv), grouped by
    each ``alias=expr`` of ``keys`` (over ``e``) and then dst_v."""
    key_cols = "".join(f"{expr} AS {alias}, " for alias, expr in keys.items())
    key_exprs = "".join(f"{expr}, " for expr in keys.values())
    key_names = "".join(f"{alias}, " for alias in keys)
    return f"""per_pos AS (
            SELECT {key_cols}e.dst_v, p.pos,
                   avg(CAST(em.embedding[p.pos] AS DOUBLE)) AS m
            FROM {edges} e
            JOIN embeddings em ON em.vec_id = e.src_v
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY {key_exprs}e.dst_v, p.pos
        ),
        {out} AS (
            SELECT {key_names}dst_v, list(m ORDER BY pos) AS aggv
            FROM per_pos GROUP BY {key_names}dst_v
        )"""


def forward_sql(w_self: np.ndarray, w_agg: np.ndarray) -> list[str]:
    """Twin of ``forward_udf`` over ``v.embedding`` and ``a.aggv``: one
    unrounded SQL expression per output channel."""
    return [
        "greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {sql_list(w_self[i])})"
        f" + list_dot_product(a.aggv, {sql_list(w_agg[i])}))"
        for i in range(OUT_DIM)
    ]


def flat_h_sql(w_self: np.ndarray, w_agg: np.ndarray) -> str:
    """``forward_sql`` as the rounded select list h1..h4."""
    return ",\n               ".join(
        f"round({h}, 4) AS h{i}" for i, h in enumerate(forward_sql(w_self, w_agg), 1)
    )


def _sage_oracle_sql() -> str:
    return f"""
        WITH {EDGES_V_CTE},
        {neighbor_mean_sql("edges_v", "agg")}
        SELECT v.vec_id,
               {flat_h_sql(*sage_weights())}
        FROM embeddings v JOIN agg a ON v.vec_id = a.dst_v
    """


def _sage_2layer_oracle_sql() -> str:
    """Exact SQL twin of the CHAINED forward: layer 1 emitted UNROUNDED
    (both engines carry full f64 through the chain; only the final layer
    rounds), layer 2's 4-dim neighbor mean and literal 4×4 heads are
    mechanical."""
    w_self2, w_agg2 = sage_weights(2)
    g_cols = ",\n               ".join(
        f"{h} AS g{i}" for i, h in enumerate(forward_sql(*sage_weights()), 1)
    )
    b_cols = ", ".join(f"avg(h.g{i}) AS b{i}" for i in range(1, OUT_DIM + 1))
    g = [f"h.g{i}" for i in range(1, OUT_DIM + 1)]
    b = [f"a.b{i}" for i in range(1, OUT_DIM + 1)]
    h2_cols = ",\n               ".join(
        f"round(greatest(0.0, {dense_sql((g, w_self2[i]), (b, w_agg2[i]))}), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH {EDGES_V_CTE},
        {neighbor_mean_sql("edges_v", "agg1")},
        h1 AS (
            SELECT v.vec_id,
               {g_cols}
            FROM embeddings v JOIN agg1 a ON v.vec_id = a.dst_v
        ),
        agg2 AS (
            SELECT e.dst_v, {b_cols}
            FROM edges_v e JOIN h1 h ON h.vec_id = e.src_v
            GROUP BY e.dst_v
        )
        SELECT h.vec_id,
               {h2_cols}
        FROM h1 h JOIN agg2 a ON h.vec_id = a.dst_v
    """


QUERIES = {
    "graph_sage_layer": graph_sage_layer,
    "graph_sage_2layer": graph_sage_2layer,
}

ORACLE = {
    "graph_sage_layer": _sage_oracle_sql(),
    "graph_sage_2layer": _sage_2layer_oracle_sql(),
}
