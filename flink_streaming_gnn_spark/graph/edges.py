"""Edge derivation (FIXTURES.md "Graph derivation"): the corpus has no
native edge table, so the graph fixtures derive a bipartite
customer→supplier multigraph from the star schema:

    edges(src=o_custkey, dst=l_suppkey, w=l_extendedprice, ts=l_shipdate)
    via lineitem ⋈ orders ON l_orderkey = o_orderkey

This mirrors the reference's edge-stream ingestion (SURVEY.md §2A A1/A2):
each lineitem row is one edge event with a weight and an event time.

Vertex-id space. Customer c and supplier s collide numerically, so the
graph kernels give every vertex one id: customers are even (``2c``) and
suppliers odd (``2s+1``). Every derived edge runs customer → supplier,
so every ``(a, b)`` pair has ``a < b``. ``bipartite_pairs`` is the one
place that mapping is written, and ``BIPARTITE_PAIRS_CTE`` is its
DuckDB twin; ``both_directions`` adds the reverse edges for the
undirected kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table

# vertex-id space used for tensor fixtures: embeddings keyed by pmod(id, 500)
EMB_MOD = 500


def derive_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer→supplier multigraph (one edge per lineitem).

    One shuffle: lineitem ⋈ orders on orderkey. A bucketed-on-orderkey
    layout makes the join exchange-free (operators/bucketing.py shows the
    plan), but building that layout inside a run costs 8–15 s at ×10
    while each later graph key saves only 0–7 s
    (tools/ab_r10_bucketed_edges_inrun.log at 2e2da82). It is an
    ingest-time choice for a deployment that persists the layout, not a
    per-run one."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("src"),
        F.col("l_suppkey").alias("dst"),
        F.col("l_extendedprice").alias("w"),
        F.col("l_shipdate").alias("ts"),
    )


def bipartite_pairs(edges: DataFrame, *aggs: Column) -> DataFrame:
    """Distinct ``(a = 2·src, b = 2·dst + 1)`` vertex pairs of a
    ``(src, dst, …)`` edge frame. With ``aggs``, the parallel edges of a
    pair fold into those columns instead, e.g. ``F.min("w").alias("w")``."""
    a = (F.col("src") * 2).alias("a")
    b = (F.col("dst") * 2 + 1).alias("b")
    if aggs:
        return edges.select(a, b, "*").groupBy("a", "b").agg(*aggs)
    return edges.select(a, b).distinct()


def both_directions(e: DataFrame) -> DataFrame:
    """An ``(a, b)`` edge frame plus its reverse ``(b, a)`` rows."""
    return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


# DuckDB CTE twin of derive_edges, reused by the graph oracle queries
EDGES_CTE = """
    edges AS (
        SELECT o_custkey AS src, l_suppkey AS dst,
               l_extendedprice AS w, l_shipdate AS ts
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
"""


# DuckDB CTE twin of bipartite_pairs(derive_edges(...))
BIPARTITE_PAIRS_CTE = """
    bipartite AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
"""


def supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier co-order projection: distinct undirected supplier
    pairs ``(a, b)``, ``a < b``, of suppliers that ship lineitems of the
    same order (the bipartite graph has no odd cycles, so the triangle
    family and k-core read this one-mode projection). Ids are plain
    supplier keys, not the bipartite id space."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    return (
        li.join(l2, (li.l_orderkey == l2.o2) & (li.l_suppkey < l2.s2))
        .select(F.col("l_suppkey").alias("a"), F.col("s2").alias("b"))
        .distinct()
    )


# DuckDB CTE twin of supplier_edges
SUPPLIER_PAIRS_CTE = """
    pairs AS (
        SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
    )
"""


def derive_vertex_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tensor-fixture edge list in embedding-id space: both endpoints mapped
    by pmod(id, 500) onto embeddings.vec_id (FIXTURES.md)."""
    return derive_edges(spark, sf_dir).select(
        F.pmod("src", F.lit(EMB_MOD)).cast("long").alias("src_v"),
        F.pmod("dst", F.lit(EMB_MOD)).cast("long").alias("dst_v"),
    )


EDGES_V_CTE = f"""
    edges_v AS (
        SELECT o_custkey % {EMB_MOD} AS src_v, l_suppkey % {EMB_MOD} AS dst_v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
"""
