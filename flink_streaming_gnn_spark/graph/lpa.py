"""Synchronous label-propagation community detection (Raghavan et al.,
2007) over the derived bipartite graph — the fourth iterative graph
operator, and like graph_bfs_levels one whose FIXED-ROUND synchronous form
is exactly SQL-expressible: each round is "take the most frequent neighbor
label, ties to the smallest label", i.e. one groupBy + one ranking window
— so the DuckDB oracle is ROUNDS mechanically-generated CTE blocks and the
driver hash-matches the whole fixpoint computation.

Spark-first shape per round: edge⋈labels (shuffle on vertex id), count per
(vertex, label) (same partitioning), one row_number window (count desc,
label asc — fully deterministic), filter rank 1. ROUNDS is fixed (no
convergence read) so the job graph is static and batch≡oracle agree
bit-for-bit. Labels start as the vertex id; after 4 rounds on this
corpus's dense bipartite core the big communities are stable.

Vertex-id space: disjoint 2c / 2s+1 (graph/edges.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans import truncate

ROUNDS = 4


def lpa_labels(spark: SparkSession, sf_dir: str, rounds: int = ROUNDS) -> DataFrame:
    pairs = bipartite_pairs(derive_edges(spark, sf_dir))
    edges = both_directions(pairs)
    labels = edges.select(F.col("a").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    w = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lbl").asc())
    for _ in range(rounds):
        votes = (
            edges.join(labels, edges.b == labels.v)
            .groupBy(F.col("a").alias("v2"), "lbl")
            .agg(F.count("*").alias("cnt"))
            .withColumnRenamed("v2", "v")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
    return labels


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community summary after ROUNDS synchronous LPA rounds: per-community
    vertex count and customer/supplier split (community = propagated label,
    reported only for communities with ≥ 2 members to keep the result
    scale-stable)."""
    labels = lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum(((F.col("v") % 2) == 0).cast("long")).cast("long").alias("n_customers"),
            F.sum(((F.col("v") % 2) == 1).cast("long")).cast("long").alias("n_suppliers"),
        )
        .filter(F.col("n_vertices") >= 2)
        .select(
            F.col("lbl").cast("long").alias("community"),
            "n_vertices",
            "n_customers",
            "n_suppliers",
        )
    )


def _lpa_chain(rounds: int) -> str:
    """The fixed-round LPA oracle's CTE chain: one (votes, labels) CTE
    pair per round — mechanically the same plan DuckDB-side."""
    return truncate.unroll(
        f"""{BIPARTITE_PAIRS_CTE},
        ue AS (SELECT a, b FROM bipartite UNION ALL SELECT b, a FROM bipartite),
        l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM ue)""",
        lambda r: f"""v{r} AS (
            SELECT ue.a AS v, l{r - 1}.lbl, count(*) AS cnt
            FROM ue JOIN l{r - 1} ON l{r - 1}.v = ue.b
            GROUP BY ue.a, l{r - 1}.lbl
        ),
        l{r} AS (
            SELECT v, lbl FROM (
                SELECT v, lbl,
                       row_number() OVER (
                           PARTITION BY v ORDER BY cnt DESC, lbl ASC
                       ) AS rn
                FROM v{r}
            ) WHERE rn = 1
        )""",
        rounds,
    )


def _lpa_oracle_sql(rounds: int = ROUNDS) -> str:
    return f"""WITH {_lpa_chain(rounds)}
        SELECT CAST(lbl AS BIGINT) AS community,
               CAST(count(*) AS BIGINT) AS n_vertices,
               CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
               CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
        FROM l{rounds}
        GROUP BY lbl
        HAVING count(*) >= 2"""


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the quality score that
    closes the community-detection loop (did propagation find structure,
    or noise?). Q = Σ_c [e_c/m − (d_c/2m)²] over the undirected graph.

    On this corpus the score is honestly NEGATIVE (−0.5): synchronous LPA
    famously oscillates on bipartite graphs (Raghavan et al. §3), and after
    an even round count each side of the purchase graph holds one label —
    every edge crosses communities, so Q = −Σ(d_c/2m)² = −0.5 exactly for
    two balanced sides. The operator reports it faithfully; the async/
    semi-sync variant that breaks the oscillation is a scheduling change,
    not a plan change.

    Float discipline: everything accumulates in EXACT integer arithmetic —
    Q_num = 2m·Σ(2e_c) / 2 ... folded to (2m·Σwithin_c − Σd_c²) with
    within_c counting both edge directions — and the ONE floating division
    happens at the end, so both engines produce the identical double and
    round-6 is stable (a per-community float sum would be accumulation-
    order-dependent). At extreme scale d_c² sums approach int64 range —
    switch the two accumulators to DECIMAL(38) there; the plan shape
    (two hash aggs + two broadcast-gated label joins) is unchanged."""
    edges = both_directions(bipartite_pairs(derive_edges(spark, sf_dir)))
    labels = lpa_labels(spark, sf_dir)
    la = labels.select(F.col("v").alias("a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("v").alias("b"), F.col("lbl").alias("lb"))
    tagged = edges.join(la, "a").join(lb, "b")
    within = tagged.filter(F.col("la") == F.col("lb")).agg(
        F.count("*").alias("within")  # both directions: Σ 2e_c
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    d2 = (
        deg.join(la, "a")
        .groupBy("la")
        .agg(F.sum("deg").alias("dc"))
        .agg(
            F.sum(F.col("dc") * F.col("dc")).alias("sum_d2"),
            F.count("*").cast("long").alias("n_communities"),
        )
    )
    two_m = edges.agg(F.count("*").alias("two_m"))
    return (
        within.crossJoin(d2)
        .crossJoin(two_m)
        .select(
            "n_communities",
            (F.col("two_m") / 2).cast("long").alias("n_edges"),
            F.round(
                (
                    F.col("two_m") * F.col("within") - F.col("sum_d2")
                ).cast("double")
                / (F.col("two_m") * F.col("two_m")).cast("double"),
                6,
            ).alias("modularity"),
        )
    )


def _modularity_oracle_sql(rounds: int = ROUNDS) -> str:
    return f"""WITH {_lpa_chain(rounds)},
        lab AS (SELECT v, lbl FROM l{rounds}),
        tagged AS (
            SELECT ue.a, ue.b, la.lbl AS la, lb.lbl AS lb
            FROM ue JOIN lab la ON la.v = ue.a
                    JOIN lab lb ON lb.v = ue.b
        ),
        w AS (SELECT CAST(count(*) AS BIGINT) AS within
              FROM tagged WHERE la = lb),
        deg AS (SELECT a, count(*) AS deg FROM ue GROUP BY a),
        dc AS (SELECT la.lbl, CAST(sum(deg.deg) AS BIGINT) AS dc
               FROM deg JOIN lab la ON la.v = deg.a GROUP BY la.lbl),
        d2 AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_d2,
                      CAST(count(*) AS BIGINT) AS n_communities
               FROM dc),
        m AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM ue)
        SELECT d2.n_communities,
               CAST(m.two_m / 2 AS BIGINT) AS n_edges,
               round(CAST(m.two_m * w.within - d2.sum_d2 AS DOUBLE)
                     / CAST(m.two_m * m.two_m AS DOUBLE), 6) AS modularity
        FROM w CROSS JOIN d2 CROSS JOIN m"""


QUERIES = {
    "graph_label_propagation": graph_label_propagation,
    "graph_modularity": graph_modularity,
}

ORACLE = {
    "graph_label_propagation": _lpa_oracle_sql(),
    "graph_modularity": _modularity_oracle_sql(),
}
