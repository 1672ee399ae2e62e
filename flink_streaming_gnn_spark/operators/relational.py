"""Scans, filters, projections, conditional expressions (SURVEY.md §2B).

Reference analogue: the parser/translator operators (§2A A2) that project raw
records into typed GraphOps. Spark-first: all of these stay inside
WholeStageCodegen; filters and column selections push down into the parquet
scan (verify with ``.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full columnar scan with schema inference (small dim table)."""
    return load_table(spark, sf_dir, "nation")


def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column projection; Catalyst prunes the scan to exactly these
    columns (ReadSchema shows only l_orderkey, l_quantity)."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """σ with AND / OR / NOT / BETWEEN / IN / LIKE / IS NOT NULL — all
    pushed into the parquet scan as data filters."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10, 45)
        & ~(F.col("l_discount") < 0.02)
        & (F.col("l_linestatus").like("F%") | (F.col("l_tax") > 0.05))
        & F.col("l_shipdate").isNotNull()
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")


def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived/aliased columns: arithmetic, string concat, casts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "charge"
        ),
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("flag_status"),
        F.col("l_quantity").cast("long").alias("qty_int"),
    )


def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional projection + aggregation over the computed buckets."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, F.lit("small"))
        .when(F.col("o_totalprice") < 150000, F.lit("medium"))
        .when(F.col("o_totalprice") < 300000, F.lit("large"))
        .otherwise(F.lit("jumbo"))
    )
    return (
        o.select(bucket.alias("price_bucket"), "o_totalprice", "o_orderstatus")
        .groupBy("price_bucket", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


_SQL_EXISTS = """
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > c.c_acctbal
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
          AND o2.o_totalprice > (
              SELECT avg(o3.o_totalprice) FROM orders o3
          )
    )
"""


def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 SQL entry point exercising Catalyst's subquery decorrelation:
    a correlated EXISTS (rewritten to a left-semi join), a correlated NOT
    EXISTS with a nested scalar subquery (anti join + broadcast scalar) —
    the query shapes users write verbatim. Runs through spark.sql() over
    register_views; the oracle is the SAME SQL string, so both engines'
    decorrelation must agree on semantics exactly."""
    from flink_streaming_gnn_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_EXISTS)


QUERIES = {
    "scan_parquet": scan_parquet,
    "scan_projection_pushdown": scan_projection_pushdown,
    "filter_pred": filter_pred,
    "project_compute": project_compute,
    "case_when": case_when,
    "sql_correlated_exists": sql_correlated_exists,
}

ORACLE = {
    "sql_correlated_exists": _SQL_EXISTS,
    "scan_parquet": "SELECT * FROM nation",
    "scan_projection_pushdown": "SELECT l_orderkey, l_quantity FROM lineitem",
    "filter_pred": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
        FROM lineitem
        WHERE l_returnflag IN ('A','R')
          AND l_quantity BETWEEN 10 AND 45
          AND NOT (l_discount < 0.02)
          AND (l_linestatus LIKE 'F%' OR l_tax > 0.05)
          AND l_shipdate IS NOT NULL
          AND l_shipdate >= TIMESTAMP '1996-01-01'
    """,
    "project_compute": """
        SELECT l_orderkey,
               l_linenumber,
               l_extendedprice * (1 - l_discount) AS revenue,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
               l_returnflag || '|' || l_linestatus AS flag_status,
               CAST(l_quantity AS BIGINT) AS qty_int
        FROM lineitem
    """,
    "case_when": """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    WHEN o_totalprice < 300000 THEN 'large'
                    ELSE 'jumbo' END AS price_bucket,
               o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY 1, 2
    """,
}
