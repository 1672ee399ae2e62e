"""The message-passing layer kit shared by the GNN zoo (SURVEY.md §2A
A6/A7/A9: a layer is an aggregator plus an update function, and L layers
are L such operators chained). Each layer module keeps only its choice of
aggregate, its head and its ``QUERIES``/``ORACLE`` entries; the parts
below are written once, as Spark expressions and as their DuckDB twins.

Literal-weight discipline. Every weight is drawn from a fixed seed and
rounded to 6 dp (``weights``), then inlined as a literal on both engines:
``float(w)`` into the Spark expression and ``repr(float(w))`` into the SQL
text, which denote the same double. So each layer's full arithmetic —
aggregation, matmul, nonlinearity — is hash-checked end to end against
its DuckDB twin. ``dot`` and ``list_dot_product`` both reduce
left-to-right over the vector. A one-input ``dense`` head folds left, as
its flat SQL ``a + b + c`` binds; two-input and chunked heads group their
sums differently in the two engines and agree once rounded, so changing
a head's grouping can change its hash.

Negative zero. A head with no ReLU on its output can round a tiny negative
to ``-0.0`` in one engine and ``0.0`` in the other; a ``+ 0.0`` after the
rounding, in both engines, normalizes the sign. ``softmax_combine`` and
its twin apply it; the layers that round an unrectified output apply it
themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce
from operator import add

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

# a literal head of more summands than this is summed in parenthesized
# chunks of SQL_CHUNK terms: DuckDB's binder recurses once per level of a
# left-nested sum and stops at 128 levels
SQL_FLAT_MAX = 64
SQL_CHUNK = 16


def weights(seed: int, *shape: int) -> np.ndarray:
    """The seeded weight draw: N(0, 0.1²) entries rounded to 6 dp."""
    return np.round(np.random.RandomState(seed).randn(*shape) * 0.1, 6)


def dot(col: str | Column, vec: np.ndarray) -> Column:
    """JVM-side dot(``col``, literal vector) via zip_with + aggregate, no UDF."""
    arr = F.array(*[F.lit(float(x)) for x in vec])
    return F.aggregate(
        F.zip_with(col, arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_list(vec: np.ndarray) -> str:
    """A DuckDB DOUBLE[] literal of ``vec``, for ``list_dot_product``."""
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def dense(*pairs: tuple[Sequence[Column], np.ndarray]) -> Column:
    """One output channel of a literal linear head: Σ_i Σ_g x_g[i]·w_g[i]
    for each (inputs x_g, weight row w_g), folded left over i."""
    n = len(pairs[0][1])
    return reduce(
        add,
        (reduce(add, (x[i] * float(w[i]) for x, w in pairs)) for i in range(n)),
    )


def dense_sql(*pairs: tuple[Sequence[str], np.ndarray]) -> str:
    """SQL twin of ``dense``; a head of more than ``SQL_FLAT_MAX`` summands
    is summed in parenthesized chunks of ``SQL_CHUNK`` terms."""
    n = len(pairs[0][1])
    terms = [
        " + ".join(f"{x[i]} * ({float(w[i])!r})" for x, w in pairs) for i in range(n)
    ]
    if n * len(pairs) <= SQL_FLAT_MAX:
        return " + ".join(terms)
    return " + ".join(
        "(" + " + ".join(terms[k : k + SQL_CHUNK]) + ")" for k in range(0, n, SQL_CHUNK)
    )


def agg(
    edges: DataFrame,
    feats: DataFrame,
    fn: Callable[[Column], Column],
    dim: int,
    by: Sequence[str | Column] = ("dst_v",),
    weight: str | None = None,
) -> DataFrame:
    """Per-element neighbour aggregate: ``fn`` over each of the ``dim``
    elements of the source vertex's ``feat`` (times the edge's ``weight``
    column, if given), grouped ``by`` the receiving side. Output: the
    ``by`` columns, then ``a1``..``a{dim}``.

    JVM-only: one join on ``src_v = vec_id`` and one hash aggregate of
    ``dim`` element-wise columns; a single shuffle on the grouping key,
    with map-side partials absorbing hot receivers. ``feats`` grows with
    the graph, so it is broadcast only while Catalyst estimates it small.
    """
    joined = edges.join(maybe_broadcast(feats), edges.src_v == feats.vec_id)
    feat = F.col("feat").cast("array<double>")

    def x(i: int) -> Column:
        e = F.element_at(feat, i)
        return e * F.col(weight) if weight else e

    return joined.groupBy(*by).agg(*[fn(x(i)).alias(f"a{i}") for i in range(1, dim + 1)])


def agg_sql(fn: str, dim: int, weight: str | None = None) -> str:
    """SQL twin of ``agg``'s select list over a ``feat`` DOUBLE[] column."""
    w = f" * {weight}" if weight else ""
    return ",\n               ".join(
        f"{fn}(feat[{i}]{w}) AS a{i}" for i in range(1, dim + 1)
    )


def softmax_combine(scored: DataFrame, out_dims: int) -> DataFrame:
    """Attention tail: α = softmax of ``score`` over each ``dst_v``'s
    in-edges, then h_v[i] = Σ α·src_feat[i] for the first ``out_dims``
    elements, rounded to 4 dp (+ 0.0). Two analytic windows and one hash
    aggregate, all on one ``dst_v`` exchange."""
    w = Window.partitionBy("dst_v")
    soft = scored.withColumn(
        "ex", F.exp(F.col("score") - F.max("score").over(w))
    ).withColumn("alpha", F.col("ex") / F.sum("ex").over(w))
    h = [f"h{i}" for i in range(1, out_dims + 1)]
    return (
        soft.groupBy("dst_v")
        .agg(
            *[
                (F.round(F.sum(F.col("alpha") * F.element_at("src_feat", i)), 4) + 0.0)
                .alias(f"h{i}")
                for i in range(1, out_dims + 1)
            ]
        )
        .select(F.col("dst_v").alias("vec_id"), *h)
    )


def softmax_combine_sql(scored: str, out_dims: int) -> str:
    """SQL twin of ``softmax_combine`` over the CTE ``scored`` (dst_v,
    src_feat, score): its last two CTEs and the final SELECT."""
    h_cols = ",\n               ".join(
        f"round(sum(alpha * CAST(src_feat[{i}] AS DOUBLE)), 4) + 0.0 AS h{i}"
        for i in range(1, out_dims + 1)
    )
    return f"""soft AS (
            SELECT dst_v, src_feat,
                   exp(score - max(score) OVER (PARTITION BY dst_v)) AS ex
            FROM {scored}
        ),
        norm AS (
            SELECT dst_v, src_feat,
                   ex / sum(ex) OVER (PARTITION BY dst_v) AS alpha
            FROM soft
        )
        SELECT dst_v AS vec_id,
               {h_cols}
        FROM norm GROUP BY dst_v"""


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


# DuckDB twin of ``normalized_edges``: the CTE ``norm_edges`` (src_v, dst_v,
# norm) and, on the way, ``e`` (distinct non-loop edges) and ``verts`` (v)
NORMALIZED_EDGES_CTE = f"""{EDGES_V_CTE},
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
        norm_edges AS (
            SELECT ea.src_v, ea.dst_v,
                   1.0 / sqrt(ds.dhout * dd.dhin) AS norm
            FROM (SELECT src_v, dst_v FROM e
                  UNION ALL SELECT v, v FROM verts) ea
            JOIN deg ds ON ds.v = ea.src_v
            JOIN deg dd ON dd.v = ea.dst_v
        )"""
