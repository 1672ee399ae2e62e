"""Aggregation operators (SURVEY.md §2B).

Reference analogue: the incremental monoid aggregators (§2A A6 —
MeanAggregator's running sum+count). Spark's hash aggregate already does the
map-side partial + reduce-side final split, which *is* the monoid pattern;
in streaming the same plan keeps running state natively (update mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: 2 group keys, 8 aggregates, with
    map-side partial aggregation. The BASELINE.md headline agg query."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash group-by with the full basic aggregate family."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + a deterministic set aggregate (sorted + joined to a
    string so the cross-engine comparison is representation-stable)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — no oracle twin (approximate by design;
    driver records a rows-only check). At 100 TB this replaces exact
    COUNT(DISTINCT) wherever a 2% error is acceptable: no giant shuffle of
    distinct keys, just mergeable sketches."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).cast("long").alias("approx_users"),
        F.count("*").cast("long").alias("n_events"),
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag, linestatus) — grouping-set aggregation with the
    GROUPING() marker distinguishing subtotal rows from real NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").cast("long").alias("n_items"),
            F.grouping_id().cast("long").alias("grp_id"),
        )
    )


def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER'd aggregates via sum(CASE WHEN …) — one pass, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("n_purchases"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), F.lit(0.0)),
            2,
        ).alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).cast("long").alias("n_errors"),
    )


def agg_incremental_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's MeanAggregator relationalized (§2A A6): per-vertex
    running (sum, count, mean) over in-neighbor features on the derived
    customer→supplier graph. Sum+count *is* the monoid the reference keeps
    in keyed state; Spark's partial aggregation maintains it identically.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return (
        edges.join(maybe_broadcast(c), edges.src == c.c_custkey)
        .groupBy("dst")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("feat_sum"),
            F.count("*").cast("long").alias("feat_count"),
            F.round(F.avg("c_acctbal"), 4).alias("feat_mean"),
        )
    )


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per return flag — both
    engines use the same linear-interpolation definition, so this is fully
    hash-checkable (approx sketches stay under agg_approx_distinct's
    rows-only regime). At scale the exact form is a sort-based aggregate;
    the approximate production path is percentile_approx (t-digest)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
    )


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): event counts per user_id × event_type as columns.
    Values enumerated explicitly — at scale an un-enumerated pivot needs a
    first pass to collect the domain; the oracle twin is the equivalent
    conditional aggregation (what pivot compiles to anyway)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0)
        .select("user_id", *[F.col(k).cast("long").alias(f"n_{k}") for k in kinds])
    )


def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per-priority
    concatenation of the month's order keys in key order — deterministic
    because the collect is sorted before joining (collect_list alone is
    partition-order dependent and would never hash-match)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-02-01")
    )
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias("keys_csv"),
    )


def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: every/any/count_if per returnflag —
    single hash agg, all three are sums/ands of predicates (map-side
    combinable)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_discount") > 0
    return li.groupBy("l_returnflag").agg(
        F.every(disc).alias("all_discounted"),
        F.some(disc).alias("any_discounted"),
        F.count_if(F.col("l_quantity") >= 25).cast("long").alias("n_bulk"),
    )


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 per event_type via approx_percentile
    (Greenwald–Khanna / KLL-style mergeable sketch, accuracy 10000). The
    100 TB replacement for exact percentile's full sort-per-group: sketches
    combine map-side, so the shuffle carries O(sketch) per group, not every
    value. Rows-only by design (sketch-algorithm-specific results); the
    error bound vs the exact interpolated percentile is pinned in
    tests/test_new_ops.py."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("q")
    )
    return q.select(
        "event_type",
        F.round(F.col("q")[0], 4).alias("p50"),
        F.round(F.col("q")[1], 4).alias("p90"),
        F.round(F.col("q")[2], 4).alias("p99"),
    )


def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money aggregation — the fixed-point path every
    billing/ledger pipeline needs: prices cast to DECIMAL(12,2) before
    summing, so the group totals are exact (no float rounding in either
    engine, no round() in the comparison). Tungsten aggregates DECIMAL
    with long/128-bit arithmetic inside whole-stage codegen, same
    one-exchange plan as the double version (``agg_pricing_summary``)."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # final decimals rendered AS STRINGS in both engines: the
            # comparison must see the exact fixed-point digits, and
            # pandas/Arrow bridges degrade wide decimals to float64
            F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_price"),
            F.sum(price * disc)
            .cast("decimal(38,4)")
            .cast("string")
            .alias("sum_discount_amt"),
            F.max(price).cast("string").alias("max_price"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


QUERIES = {
    "agg_pricing_summary": agg_pricing_summary,
    "agg_decimal_exact": agg_decimal_exact,
    "agg_approx_quantile": agg_approx_quantile,
    "agg_string_agg": agg_string_agg,
    "agg_boolean": agg_boolean,
    "agg_percentile": agg_percentile,
    "agg_pivot": agg_pivot,
    "agg_hash_group": agg_hash_group,
    "agg_distinct": agg_distinct,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_filtered": agg_filtered,
    "agg_incremental_neighbor": agg_incremental_neighbor,
}

ORACLE = {
    "agg_decimal_exact": """
        SELECT l_returnflag,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(l_discount AS DECIMAL(12,2)))
                         AS DECIMAL(38,4)) AS VARCHAR) AS sum_discount_amt,
               CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
                   AS max_price,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "agg_string_agg": """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
                   AS keys_csv
        FROM orders
        WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
        GROUP BY o_orderpriority
    """,
    "agg_boolean": """
        SELECT l_returnflag,
               bool_and(l_discount > 0) AS all_discounted,
               bool_or(l_discount > 0) AS any_discounted,
               CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "agg_pivot": """
        SELECT user_id,
               CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
               CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
               CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
               CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
        FROM events
        GROUP BY user_id
    """,
    "agg_percentile": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg_hash_group": """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price,
               round(avg(o_totalprice), 4) AS avg_price,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    "agg_distinct": """
        SELECT l_returnflag,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS grp_id
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg_filtered": """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
               round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0.0), 2)
                   AS purchase_value,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors
        FROM events
        GROUP BY user_id
    """,
    "agg_incremental_neighbor": """
        SELECT l_suppkey AS dst,
               round(sum(c_acctbal), 2) AS feat_sum,
               CAST(count(*) AS BIGINT) AS feat_count,
               round(avg(c_acctbal), 4) AS feat_mean
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY l_suppkey
    """,
}
