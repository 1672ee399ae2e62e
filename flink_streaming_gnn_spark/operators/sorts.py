"""Sorts, limits, top-k (SURVEY.md §2B).

Spark physical notes: global ORDER BY is a range-partitioned sort (sampled
boundaries → no single-reducer bottleneck at scale); ORDER BY + LIMIT k
becomes TakeOrderedAndProject — each partition keeps its local top-k, the
driver merges k·p rows, never the full data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table


def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ORDER BY with NULLS ordering + LIMIT (top-100 slice,
    fully tie-broken so the slice is deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.col("o_totalprice").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("total_price").desc_nulls_last(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (global top-k without a
    global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
        )
        .orderBy(F.col("price").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .limit(10)
    )


QUERIES = {
    "sort_multi": sort_multi,
    "limit_topk": limit_topk,
}

ORACLE = {
    "sort_multi": """
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               o_totalprice AS total_price
        FROM orders
        ORDER BY o_orderstatus ASC NULLS LAST,
                 total_price DESC NULLS LAST,
                 o_orderkey ASC
        LIMIT 100
    """,
    "limit_topk": """
        SELECT l_orderkey, l_linenumber, l_extendedprice AS price
        FROM lineitem
        ORDER BY price DESC, l_orderkey, l_linenumber
        LIMIT 10
    """,
}
