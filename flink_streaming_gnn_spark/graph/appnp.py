"""APPNP propagation layer (Gasteiger/Klicpera et al., ICLR'19 —
"Predict then Propagate": approximate personalized-PageRank propagation
of node features). Next to SAGE/GCN/GAT/GIN this completes the
reference's GNN-layer zoo (SURVEY.md §2A A7-A9) with the decoupled
propagate-only architecture:

    Z^0 = H,   Z^{k+1} = (1-α)·Â·Z^k + α·H

with Â the GCN symmetric normalization with self-loops (shared with
the GCN layer as ``graph/layers.normalized_edges`` and its twin CTE:
d̂out(u)=dout(u)+1, d̂in(v)=din(v)+1,
norm_uv = 1/sqrt(d̂out(u)·d̂in(v))) and teleport α. Feature propagation
is column-independent, so surfacing the first ``TRACK_DIMS`` feature
channels is EXACT for those channels — the oracle checks the real
propagation, not a toy.

Spark-first shape: K plan-unrolled rounds, each ONE shuffle on the
receiving vertex (hash agg of per-channel weighted sums; map-side
partials absorb hot vertices); the normalized edge list with its
1/sqrt(d̂·d̂) weight is built once and reused every round. Z is rounded
to 6 dp per round in BOTH engines, so the hash check cannot straddle a
last-ulp sum-order difference (the ``graph/pagerank.py`` discipline).

At 100 TB: state is |V|×TRACK_DIMS per round; edges never carry more
than TRACK_DIMS columns; rounds reuse one partitioning — the same
shape GraphX/Pregel would pick, expressed declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.layers import NORMALIZED_EDGES_CTE, normalized_edges
from flink_streaming_gnn_spark.plans import truncate
from flink_streaming_gnn_spark.sources.tables import load_table

ALPHA = 0.15
ROUNDS = 3
TRACK_DIMS = 4


def gnn_appnp_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("v"),
        *[
            F.round(F.element_at("embedding", i).cast("double"), 6).alias(f"f{i}")
            for i in range(1, TRACK_DIMS + 1)
        ],
    )
    norm_edges = normalized_edges(spark, sf_dir)

    h = emb  # teleport target, broadcast-joined back in every round
    z = emb
    for _ in range(ROUNDS):
        msgs = norm_edges.join(
            z.select(F.col("v").alias("src_v"), *[f"f{i}" for i in range(1, TRACK_DIMS + 1)]),
            "src_v",
        )
        agg = msgs.groupBy("dst_v").agg(
            *[
                F.sum(F.col(f"f{i}") * F.col("norm")).alias(f"a{i}")
                for i in range(1, TRACK_DIMS + 1)
            ]
        )
        z = (
            h.join(agg, h.v == agg.dst_v, "left")
            .select(
                "v",
                *[
                    # "+ 0.0": the negative-zero rule of graph/layers.py,
                    # so both engines carry the same sign of zero into the
                    # next round
                    (
                        F.round(
                            F.lit(1.0 - ALPHA) * F.coalesce(F.col(f"a{i}"), F.lit(0.0))
                            + F.lit(ALPHA) * F.col(f"f{i}"),
                            6,
                        )
                        + 0.0
                    ).alias(f"f{i}")
                    for i in range(1, TRACK_DIMS + 1)
                ],
            )
        )
    return z.select(
        F.col("v").alias("vec_id"),
        *[F.col(f"f{i}").alias(f"z{i}") for i in range(1, TRACK_DIMS + 1)],
    ).orderBy("vec_id")


def _appnp_oracle_sql() -> str:
    f_cols = ", ".join(
        f"round(CAST(embedding[{i}] AS DOUBLE), 6) AS f{i}"
        for i in range(1, TRACK_DIMS + 1)
    )
    a_cols = ",\n                   ".join(
        f"sum(z.f{i} * ne.norm) AS a{i}" for i in range(1, TRACK_DIMS + 1)
    )
    z_cols = ",\n                   ".join(
        f"round({1.0 - ALPHA!r} * COALESCE(a.a{i}, 0.0)"
        f" + {ALPHA!r} * h.f{i}, 6) + 0.0 AS f{i}"
        for i in range(1, TRACK_DIMS + 1)
    )
    out_cols = ", ".join(f"f{i} AS z{i}" for i in range(1, TRACK_DIMS + 1))
    chain = truncate.unroll(
        f"""{NORMALIZED_EDGES_CTE},
        z0 AS (SELECT vec_id AS v, {f_cols} FROM embeddings)""",
        lambda k: f"""agg{k} AS (
            SELECT ne.dst_v AS v,
                   {a_cols}
            FROM norm_edges ne JOIN z{k - 1} z ON z.v = ne.src_v
            GROUP BY ne.dst_v
        ),
        z{k} AS (
            SELECT h.v,
                   {z_cols}
            FROM z0 h LEFT JOIN agg{k} a ON a.v = h.v
        )""",
        ROUNDS,
    )
    return f"""
        WITH {chain}
        SELECT v AS vec_id, {out_cols}
        FROM z{ROUNDS}
        ORDER BY vec_id
    """


QUERIES = {"gnn_appnp_propagate": gnn_appnp_propagate}
ORACLE = {"gnn_appnp_propagate": _appnp_oracle_sql()}
