"""Rich-club coefficient ladder (Zhou & Mondragón 2004; the
Colizza et al. 2006 form) over the undirected customer–supplier fixture
graph: for each degree threshold k,

    φ(k) = 2·E_k / (N_k·(N_k − 1))

where N_k = vertices with degree > k and E_k = edges both of whose
endpoints have degree > k — "how densely do the hubs talk to each
other", the structural probe behind core–periphery claims (the
coefficient-vs-threshold curve; normalization against a degree-
preserving null model is a research add-on, the raw curve is the
operator).

Spark-first shape: ONE degree aggregation, then EVERY threshold of the
ladder is a conditional sum inside a single pass over the degree-joined
edge list — one edge-table scan and |ladder| columns, not |ladder|
filtered subqueries; the two tiny (1-row wide) aggregates combine with
a broadcast cross join. Scale: degrees are |V|-sized and broadcast-
gated onto the edges; nothing wider than the ladder leaves any stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    derive_edges,
)
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast

LADDER = (1, 2, 4, 8, 16, 32, 64)


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one row per unordered pair: a < b in the 2c / 2s+1 id space
    e = bipartite_pairs(derive_edges(spark, sf_dir))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    ej = e.join(
        maybe_broadcast(deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))),
        "a",
    ).join(
        maybe_broadcast(deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))),
        "b",
    )
    e_counts = ej.agg(
        *[
            F.sum(((F.col("da") > k) & (F.col("db") > k)).cast("long"))
            .cast("long")
            .alias(f"e{k}")
            for k in LADDER
        ]
    )
    n_counts = deg.agg(
        *[
            F.sum((F.col("deg") > k).cast("long")).cast("long").alias(f"n{k}")
            for k in LADDER
        ]
    )
    wide = e_counts.crossJoin(F.broadcast(n_counts))
    rows = [
        F.struct(
            F.lit(k).cast("long").alias("k"),
            F.col(f"n{k}").alias("n_nodes"),
            F.col(f"e{k}").alias("n_edges"),
            F.when(
                F.col(f"n{k}") > 1,
                F.round(
                    2.0 * F.col(f"e{k}") / (F.col(f"n{k}") * (F.col(f"n{k}") - 1)), 6
                ),
            ).alias("phi"),
        )
        for k in LADDER
    ]
    return (
        wide.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.k", "r.n_nodes", "r.n_edges", "r.phi")
        .orderBy("k")
    )


def _rich_club_oracle_sql() -> str:
    e_cols = ",\n               ".join(
        f"CAST(sum(CASE WHEN da > {k} AND db > {k} THEN 1 ELSE 0 END) AS BIGINT) AS e{k}"
        for k in LADDER
    )
    n_cols = ",\n               ".join(
        f"CAST(sum(CASE WHEN deg > {k} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}"
        for k in LADDER
    )
    selects = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k, n{k} AS n_nodes, e{k} AS n_edges, "
        f"CASE WHEN n{k} > 1 THEN round(2.0 * e{k} / (n{k} * (n{k} - 1)), 6) END AS phi "
        f"FROM w"
        for k in LADDER
    )
    return f"""
        WITH {BIPARTITE_PAIRS_CTE},
        deg AS (
            SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM bipartite UNION ALL SELECT b AS v FROM bipartite
            ) GROUP BY v
        ),
        ej AS (
            SELECT dda.deg AS da, ddb.deg AS db
            FROM bipartite e JOIN deg dda ON dda.v = e.a
                          JOIN deg ddb ON ddb.v = e.b
        ),
        ec AS (SELECT {e_cols} FROM ej),
        nc AS (SELECT {n_cols} FROM deg),
        w AS (SELECT * FROM ec CROSS JOIN nc)
        {selects}
        ORDER BY k
    """


QUERIES = {"graph_rich_club": graph_rich_club}
ORACLE = {"graph_rich_club": _rich_club_oracle_sql()}
