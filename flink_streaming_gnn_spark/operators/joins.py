"""Join operators: equi / outer / semi / anti / theta / range / as-of / star.

Reference analogue: the reference's message-passing *is* a join — each
GraphOp routed by ``keyBy(partId)`` to a storage operator joins the incoming
edge against the vertex state it co-locates with (SURVEY.md §2A A5). Spark
replaces the explicit keyBy+state machinery with shuffle/broadcast joins
chosen by Catalyst+AQE.

Scale posture: dimension tables (nation/region/supplier) are broadcast —
no shuffle of the fact side; fact-fact joins shuffle on the join key and
rely on AQE skew-join splitting. The as-of join is the window-function
rewrite (no native Spark as-of); at cluster scale it shuffles once on the
key and sorts within partitions — no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table


def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders ⋈ customer (Catalyst picks broadcast/SMJ)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "c_mktsegment", F.col("o_totalprice").alias("total_price")
    )


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dim chain supplier⋈nation onto the
    fact table — zero shuffle of lineitem for the join itself."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey", "n_name")
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: every customer, order count (0 for order-less ones)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer: orders ⋈ customer keeping all customers (mirror of left)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .select("c_custkey", "c_nationkey", "o_orderkey", "o_totalprice")
        .groupBy("c_nationkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        )
    )


def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates (customer vs supplier
    account balances) — nulls where a side is missing."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("cust_bal"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("supp_bal"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.coalesce(c.c_nationkey, s.s_nationkey).cast("long").alias("nationkey"),
        "cust_bal",
        "supp_bal",
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers that have at least one open ('O') order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti (the BASELINE ``semi_anti`` shape): customers with no
    orders at all — NOT EXISTS without the subquery materialization."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal")
    )


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): customers
    and suppliers matched on a NULLABLE nation key (nation 0 mapped to
    NULL on both sides) — under ordinary equality the NULL rows silently
    drop; the null-safe operator pairs them, the semantic a data-quality
    join needs when 'unknown' must match 'unknown'. Output is the
    per-key pair count (NULL key row included), keeping the result
    bounded by |nations|."""
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("c_nat")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(0)).alias("s_nat")
    )
    return (
        c.join(s, c.c_nat.eqNullSafe(s.s_nat))
        .groupBy("c_nat")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(F.col("c_nat").cast("long").alias("nation_key"), "n_pairs")
        .orderBy(F.col("nation_key").asc_nulls_first())
    )


ASOF_TOL_US = 3_600_000_000  # nearest-match tolerance: ±1 hour in µs


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join (pd.merge_asof direction='nearest'): for each
    purchase, the click by the same user with the smallest |Δts| within
    ±1 hour — either direction, unlike ``join_asof``'s backward-only
    semantics. The tolerance is what keeps the pair space bounded at
    scale: the range predicate rides the user_id equi-join, so per-key
    candidates are a time slice, never the whole history. Δts is an
    exact integer microsecond difference (deterministic ordering; ties
    break toward the earlier click, then click_id)."""
    ev = load_table(spark, sf_dir, "events")
    p_us = F.unix_micros(F.col("purchase_ts").cast("timestamp"))
    c_us = F.unix_micros(F.col("click_ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.click_user)
        & (F.abs(c_us - p_us) <= ASOF_TOL_US),
        "inner",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.abs(c_us - p_us), F.col("click_ts"), F.col("click_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            (c_us - p_us).alias("delta_us"),
        )
    )


def join_theta_nl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: supplier pairs within a nation with an
    account-balance gap bound — equi part on nation keeps it from being a
    cross product; the theta predicate filters pairs."""
    s1 = load_table(spark, sf_dir, "supplier").alias("s1")
    s2 = load_table(spark, sf_dir, "supplier").alias("s2")
    return s1.join(
        s2,
        (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
        & (F.col("s1.s_suppkey") < F.col("s2.s_suppkey"))
        & (F.abs(F.col("s1.s_acctbal") - F.col("s2.s_acctbal")) < 1000.0),
    ).select(
        F.col("s1.s_suppkey").alias("suppkey_a"),
        F.col("s2.s_suppkey").alias("suppkey_b"),
        F.col("s1.s_nationkey").alias("nationkey"),
        (F.abs(F.col("s1.s_acctbal") - F.col("s2.s_acctbal"))).alias("bal_gap"),
    )


def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: pairs of events by the same user within a
    15-minute forward window. Equi on user_id bounds the pair space; the
    range predicate is evaluated post-shuffle (AQE keeps partitions sane)."""
    e1 = load_table(spark, sf_dir, "events").alias("e1")
    e2 = load_table(spark, sf_dir, "events").alias("e2")
    return e1.join(
        e2,
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.event_id") != F.col("e1.event_id"))
        & (F.col("e2.ts") >= F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 15 MINUTES")),
    ).select(
        F.col("e1.event_id").alias("event_a"),
        F.col("e2.event_id").alias("event_b"),
        F.col("e1.user_id").alias("user_id"),
        F.col("e1.event_type").alias("type_a"),
        F.col("e2.event_type").alias("type_b"),
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the latest prior-or-equal click
    by the same user. Spark has no native as-of → window rewrite:
    range join on (user, click.ts <= purchase.ts) then keep rank 1 by
    click.ts desc (event_id desc as total-order tiebreak).

    At scale: both sides shuffle once on user_id; the per-key sort is the
    same work ``pd.merge_asof`` would do, without leaving the JVM.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.click_user) & (clicks.click_ts <= purchases.purchase_ts),
        "inner",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc(), F.col("click_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        )
    )


def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: 4-way star join → revenue by nation (Q5-style).

    lineitem ⋈ orders ⋈ customer ⋈ nation; one shuffle for lineitem⋈orders
    (both big), nation always broadcast (25 rows by schema), customer
    broadcast only while Catalyst estimates it small — at 100 TB customer
    is billions of rows and AQE must be free to pick a shuffle join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc())
    )


def join_cross_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate CROSS JOIN of two schema-bounded dimensions (region ×
    nation = 125 rows) — the one place a cartesian product is legitimate:
    both sides are constant-size by schema, so the product is too. Any
    unbounded side belongs in a blocked/banded join (see llm/dedup.py);
    tools/explain_audit.py forbids CartesianProduct everywhere else."""
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rk"), F.col("r_name").alias("region_name")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation_name")
    )
    return r.crossJoin(n).select(
        "rk", "nk", "region_name", "nation_name",
        (F.col("rk") * 100 + F.col("nk")).cast("long").alias("pair_id"),
    )


QUERIES = {
    "join_cross_bounded": join_cross_bounded,
    "join_inner_hash": join_inner_hash,
    "join_broadcast": join_broadcast,
    "join_left": join_left,
    "join_right": join_right,
    "join_full": join_full,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_theta_nl": join_theta_nl,
    "join_range_interval": join_range_interval,
    "join_asof": join_asof,
    "join_asof_nearest": join_asof_nearest,
    "join_null_safe": join_null_safe,
    "join_multiway_star": join_multiway_star,
    "join_3way_revenue": join_multiway_star,  # BASELINE.md headline name
    "semi_anti": join_anti,  # BASELINE.md headline name
}

_STAR_SQL = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
"""

_ANTI_SQL = """
    SELECT c_custkey, c_name, c_acctbal AS acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

ORACLE = {
    "join_cross_bounded": """
        SELECT r_regionkey AS rk, n_nationkey AS nk,
               r_name AS region_name, n_name AS nation_name,
               CAST(r_regionkey * 100 + n_nationkey AS BIGINT) AS pair_id
        FROM region CROSS JOIN nation
    """,
    "join_inner_hash": """
        SELECT o_orderkey, c_name, c_mktsegment, o_totalprice AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_broadcast": """
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "join_left": """
        SELECT c_custkey, c_name,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_right": """
        SELECT c_nationkey,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    "join_full": """
        WITH cb AS (SELECT c_nationkey, round(sum(c_acctbal), 2) AS cust_bal
                    FROM customer GROUP BY c_nationkey),
             sb AS (SELECT s_nationkey, round(sum(s_acctbal), 2) AS supp_bal
                    FROM supplier GROUP BY s_nationkey)
        SELECT CAST(coalesce(cb.c_nationkey, sb.s_nationkey) AS BIGINT) AS nationkey,
               cust_bal, supp_bal
        FROM cb FULL OUTER JOIN sb ON cb.c_nationkey = sb.s_nationkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    "join_anti": _ANTI_SQL,
    "semi_anti": _ANTI_SQL,
    "join_theta_nl": """
        SELECT s1.s_suppkey AS suppkey_a,
               s2.s_suppkey AS suppkey_b,
               s1.s_nationkey AS nationkey,
               abs(s1.s_acctbal - s2.s_acctbal) AS bal_gap
        FROM supplier s1
        JOIN supplier s2
          ON s1.s_nationkey = s2.s_nationkey
         AND s1.s_suppkey < s2.s_suppkey
         AND abs(s1.s_acctbal - s2.s_acctbal) < 1000.0
    """,
    "join_range_interval": """
        SELECT e1.event_id AS event_a,
               e2.event_id AS event_b,
               e1.user_id AS user_id,
               e1.event_type AS type_a,
               e2.event_type AS type_b
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.event_id <> e1.event_id
         AND e2.ts >= e1.ts
         AND e2.ts <= e1.ts + INTERVAL 15 MINUTE
    """,
    "join_null_safe": """
        WITH c AS (
            SELECT nullif(c_nationkey, 0) AS c_nat FROM customer
        ), s AS (
            SELECT nullif(s_nationkey, 0) AS s_nat FROM supplier
        )
        SELECT CAST(c_nat AS BIGINT) AS nation_key,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM c JOIN s ON c_nat IS NOT DISTINCT FROM s_nat
        GROUP BY c_nat
        ORDER BY nation_key NULLS FIRST
    """,
    "join_asof_nearest": f"""
        WITH purchases AS (
            SELECT event_id AS purchase_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
            FROM events WHERE event_type = 'click'
        ), ranked AS (
            SELECT purchase_id, user_id, click_id, c_us - p_us AS delta_us,
                   row_number() OVER (PARTITION BY purchase_id
                                      ORDER BY abs(c_us - p_us), click_ts, click_id)
                       AS rn
            FROM purchases JOIN clicks
              ON user_id = click_user AND abs(c_us - p_us) <= {ASOF_TOL_US}
        )
        SELECT purchase_id, user_id, click_id, CAST(delta_us AS BIGINT) AS delta_us
        FROM ranked WHERE rn = 1
    """,
    "join_asof": """
        WITH purchases AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ), ranked AS (
            SELECT purchase_id, user_id, click_id, purchase_ts, click_ts,
                   row_number() OVER (PARTITION BY purchase_id
                                      ORDER BY click_ts DESC, click_id DESC) AS rn
            FROM purchases JOIN clicks
              ON user_id = click_user AND click_ts <= purchase_ts
        )
        SELECT purchase_id, user_id, click_id,
               strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
               strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_time
        FROM ranked WHERE rn = 1
    """,
    "join_multiway_star": _STAR_SQL,
    "join_3way_revenue": _STAR_SQL,
}
