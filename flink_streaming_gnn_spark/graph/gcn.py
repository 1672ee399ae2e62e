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

Weights are deterministic (seeded, 6 dp) and inlined as literals in both
the Spark expressions and the generated DuckDB oracle SQL, so the full
layer — normalization, aggregation, matmul, ReLU — is hash-checked
end-to-end.

At 100 TB: degrees are two O(|E|) hash aggs producing |V|-sized tables
(broadcast-gated); the message aggregation shuffles once on dst_v with
map-side partial sums absorbing hot vertices. The 64-wide agg keeps row
count at |V|, never |E|×dim.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 4


def gcn_weights(out_dim: int = OUT_DIM, in_dim: int = DIM) -> np.ndarray:
    """Deterministic layer weights, rounded so SQL literals match exactly."""
    return np.round(np.random.RandomState(46).randn(out_dim, in_dim) * 0.1, 6)


def normalized_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(src_v, dst_v, norm)`` over E ∪ self-loops, with
    ``norm = 1/sqrt(d̂out(src_v) · d̂in(dst_v))`` — the symmetric-normalized
    adjacency Â shared by the GCN layer and APPNP (graph/appnp.py)."""
    e = (
        derive_vertex_embeddings(spark, sf_dir)
        .distinct()
        .filter(F.col("src_v") != F.col("dst_v"))
    )
    verts = load_table(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("v"))

    # both degrees from ONE pass over one edge subtree (explode each edge
    # into an out-endpoint and an in-endpoint record, then a single hash
    # agg) — the naive dout/din-as-two-aggregates shape gives the edge
    # derivation three separate lineages that each rescan lineitem⋈orders;
    # this shape leaves exactly two identical edge subtrees (degrees +
    # messages), which AQE collapses with ReusedExchange
    endpoints = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src_v").alias("v"), F.lit(1).alias("is_out")),
                F.struct(F.col("dst_v").alias("v"), F.lit(0).alias("is_out")),
            )
        ).alias("p")
    ).select("p.v", "p.is_out")
    deg_counts = endpoints.groupBy("v").agg(
        F.sum("is_out").alias("dout"),
        F.sum(1 - F.col("is_out")).alias("din"),
    )
    deg = (
        verts.join(deg_counts, "v", "left")
        .select(
            "v",
            (F.coalesce(F.col("dout"), F.lit(0)) + 1).alias("dhout"),
            (F.coalesce(F.col("din"), F.lit(0)) + 1).alias("dhin"),
        )
    )

    self_loops = verts.select(F.col("v").alias("src_v"), F.col("v").alias("dst_v"))
    return (
        e.unionByName(self_loops)
        .join(maybe_broadcast(deg.select(F.col("v").alias("src_v"), "dhout")), "src_v")
        .join(maybe_broadcast(deg.select(F.col("v").alias("dst_v"), "dhin")), "dst_v")
        .select(
            "src_v",
            "dst_v",
            (F.lit(1.0) / F.sqrt(F.col("dhout") * F.col("dhin"))).alias("norm"),
        )
    )


def graph_gcn_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = gcn_weights()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    msgs = normalized_edges(spark, sf_dir).join(
        maybe_broadcast(emb), F.col("src_v") == F.col("vec_id")
    )
    agg = msgs.groupBy("dst_v").agg(
        *[
            F.sum(F.element_at("feat", i) * F.col("norm")).alias(f"a{i}")
            for i in range(1, DIM + 1)
        ]
    )
    h_cols = [
        F.round(
            F.greatest(
                F.lit(0.0),
                sum(
                    (F.col(f"a{i}") * float(w[j - 1, i - 1]) for i in range(2, DIM + 1)),
                    F.col("a1") * float(w[j - 1, 0]),
                ),
            ),
            4,
        ).alias(f"h{j}")
        for j in range(1, OUT_DIM + 1)
    ]
    return agg.select(F.col("dst_v").alias("vec_id"), *h_cols)


def _gcn_oracle_sql() -> str:
    w = gcn_weights()
    agg_cols = ",\n               ".join(
        f"sum(feat[{i}] * norm) AS a{i}" for i in range(1, DIM + 1)
    )
    h_cols = ",\n               ".join(
        "round(greatest(0.0, "
        + " + ".join(f"a{i} * ({w[j - 1, i - 1]!r})" for i in range(1, DIM + 1))
        + f"), 4) AS h{j}"
        for j in range(1, OUT_DIM + 1)
    )
    return f"""
        WITH {EDGES_V_CTE},
        e AS (SELECT DISTINCT src_v, dst_v FROM edges_v WHERE src_v <> dst_v),
        verts AS (SELECT vec_id AS v FROM embeddings),
        dout AS (SELECT src_v AS v, count(*) AS d FROM e GROUP BY src_v),
        din  AS (SELECT dst_v AS v, count(*) AS d FROM e GROUP BY dst_v),
        deg AS (
            SELECT verts.v,
                   COALESCE(dout.d, 0) + 1 AS dhout,
                   COALESCE(din.d, 0) + 1 AS dhin
            FROM verts LEFT JOIN dout ON dout.v = verts.v
                       LEFT JOIN din  ON din.v = verts.v
        ),
        edges_all AS (
            SELECT src_v, dst_v FROM e
            UNION ALL SELECT v, v FROM verts
        ),
        msgs AS (
            SELECT ea.dst_v,
                   1.0 / sqrt(ds.dhout * dd.dhin) AS norm,
                   CAST(emb.embedding AS DOUBLE[]) AS feat
            FROM edges_all ea
            JOIN deg ds ON ds.v = ea.src_v
            JOIN deg dd ON dd.v = ea.dst_v
            JOIN embeddings emb ON emb.vec_id = ea.src_v
        ),
        agg AS (
            SELECT dst_v,
               {agg_cols}
            FROM msgs GROUP BY dst_v
        )
        SELECT dst_v AS vec_id,
               {h_cols}
        FROM agg
    """


QUERIES = {"graph_gcn_layer": graph_gcn_layer}
ORACLE = {"graph_gcn_layer": _gcn_oracle_sql()}
