"""Set operations: UNION [ALL] / INTERSECT / EXCEPT [ALL] (SURVEY.md §2B)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table


def _cust_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").cast("long").alias("nationkey"))
    )


def _supp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").cast("long").alias("nationkey"))
    )


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union, no shuffle) + a tag column per source side."""
    c = _cust_nations(spark, sf_dir).withColumn("side", F.lit("customer"))
    s = _supp_nations(spark, sf_dir).withColumn("side", F.lit("supplier"))
    return c.unionByName(s)


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — union all + hash dedup on the combined key."""
    return _cust_nations(spark, sf_dir).union(_supp_nations(spark, sf_dir)).distinct()


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — nations having both customers and suppliers."""
    return _cust_nations(spark, sf_dir).intersect(_supp_nations(spark, sf_dir))


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — nations with customers but no suppliers."""
    return _cust_nations(spark, sf_dir).exceptAll(
        _supp_nations(spark, sf_dir)
    ).distinct()


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference (keeps multiplicity)."""
    return _cust_nations(spark, sf_dir).exceptAll(_supp_nations(spark, sf_dir))


QUERIES = {
    "set_union_all": set_union_all,
    "set_union_distinct": set_union_distinct,
    "set_intersect": set_intersect,
    "set_except": set_except,
    "set_except_all": set_except_all,
}

ORACLE = {
    "set_union_all": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS side FROM customer
        UNION ALL
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey, 'supplier' AS side FROM supplier
    """,
    "set_union_distinct": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        UNION
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
    "set_intersect": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
    "set_except": """
        SELECT DISTINCT nationkey FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            EXCEPT ALL
            SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        )
    """,
    "set_except_all": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        EXCEPT ALL
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
}


def set_symmetric_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference — the one classical set op the family above
    was missing, on a pair that genuinely differs at every sf: parts
    shipped in 1995 vs parts shipped in 2000 (assortment churn — parts
    sold in exactly one of the two years, tagged with which). Two EXCEPT
    legs + a bag union; both legs are hash anti-semantics on the value,
    no sort anywhere. Output is bounded by |parts|."""

    def sold_in(year: int) -> DataFrame:
        return (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.year("l_shipdate") == year)
            .select(F.col("l_partkey").alias("partkey"))
            .distinct()
        )

    a, b = sold_in(1995), sold_in(2000)
    only_a = a.exceptAll(b).withColumn("side", F.lit("only_1995"))
    only_b = b.exceptAll(a).withColumn("side", F.lit("only_2000"))
    return only_a.unionByName(only_b).orderBy("partkey", "side")


QUERIES["set_symmetric_difference"] = set_symmetric_difference
ORACLE["set_symmetric_difference"] = """
    WITH a AS (SELECT DISTINCT l_partkey AS partkey FROM lineitem
               WHERE year(l_shipdate) = 1995),
    b AS (SELECT DISTINCT l_partkey AS partkey FROM lineitem
          WHERE year(l_shipdate) = 2000)
    SELECT partkey, 'only_1995' AS side
    FROM (SELECT partkey FROM a EXCEPT SELECT partkey FROM b)
    UNION ALL
    SELECT partkey, 'only_2000' AS side
    FROM (SELECT partkey FROM b EXCEPT SELECT partkey FROM a)
    ORDER BY partkey, side
"""
