"""Eigenvector centrality by power iteration (SURVEY.md §2B graph
algorithms family — the Bonacich centrality companion to
``graph/pagerank.py``'s damped variant and ``graph/hits.py``'s
hub/authority pair).

Spark-first shape: the symmetrized derived graph (purchase edges, both
directions) is built once and persisted; each power-iteration round is
one L2 normalization + one join (scores onto edges) + one per-vertex
sum — two shuffles, both keyed on vertex id, so consecutive rounds reuse
the partitioning. ``truncate.iterate`` checkpoints the unnormalized sum
y each round; its norm rides lazily into the next round's job (and into
the caller's read) as a broadcast 1-row crossJoin, so the driver reads
no scalar. A fixed round count keeps the job graph static.

Every vertex of the symmetrized graph has degree ≥ 1 (vertices are
derived from the edge list), so no dangling-mass correction is needed —
the iteration is exactly x ← A·x / ‖A·x‖₂.

Exact oracle: mechanically-unrolled MATERIALIZED round CTEs (the
pagerank/LPA trick) at the verify-scale round count; scores are rounded
to 6 dp at magnitudes ~1/√|V| so last-ulp accumulation-order differences
between engines cannot flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    BIPARTITE_PAIRS_CTE,
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.graph.pagerank import _is_verify_scale
from flink_streaming_gnn_spark.plans import truncate

ROUNDS = 8


@truncate.release_superseded_checkpoints
def eigenvector_scores(
    spark: SparkSession, sf_dir: str, rounds: int = ROUNDS
) -> DataFrame:
    e = both_directions(bipartite_pairs(derive_edges(spark, sf_dir))).persist()
    v = e.select(F.col("a").alias("v")).distinct().persist()

    def normalized(y: DataFrame) -> DataFrame:
        nrm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        return y.crossJoin(F.broadcast(nrm)).select(
            "v", (F.col("y") / F.col("nrm")).alias("x")
        )

    def step(y, observe):
        x = normalized(y)
        return (
            e.join(x, e.a == x.v)
            .groupBy(F.col("b").alias("v"))
            .agg(F.sum("x").alias("y"))
        )

    try:
        y = v.withColumn("y", F.lit(1.0)).localCheckpoint()
        return normalized(truncate.iterate(y, step, rounds))
    finally:
        e.unpersist()
        v.unpersist()


def graph_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: top-100 vertices by eigenvector score (6 dp), the
    ranking summary a centrality consumer reads. Exact oracle via
    unrolled round CTEs; verify-scale fixtures run half the rounds."""
    rounds = ROUNDS // 2 if _is_verify_scale(sf_dir) else ROUNDS
    x = eigenvector_scores(spark, sf_dir, rounds=rounds)
    top = (
        x.select("v", F.round("x", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("v"))
        .limit(100)
    )
    rows = top.collect()  # ≤100 rows — summary, not data path
    x.unpersist()
    return spark.createDataFrame(rows, schema="v long, score double")


def _eigenvector_oracle_sql(rounds: int = ROUNDS // 2) -> str:
    """Unrolled power iteration at the verify-scale round count. Every
    CTE is MATERIALIZED — each round's scores feed both the next matvec
    and its own norm."""
    chain = truncate.unroll(
        f"""{BIPARTITE_PAIRS_CTE},
        e AS MATERIALIZED (
            SELECT a, b FROM bipartite UNION ALL SELECT b AS a, a AS b FROM bipartite
        ),
        verts AS MATERIALIZED (
            SELECT DISTINCT a AS v FROM e
        ),
        n AS (SELECT count(*) AS n FROM verts),
        x0 AS MATERIALIZED (
            SELECT v, 1.0 / sqrt(n.n) AS x FROM verts CROSS JOIN n
        )""",
        lambda r: f"""y{r} AS MATERIALIZED (
            SELECT e.b AS v, sum(p.x) AS y
            FROM e JOIN x{r - 1} p ON p.v = e.a
            GROUP BY e.b
        ),
        nrm{r} AS (SELECT sqrt(sum(y * y)) AS nrm FROM y{r}),
        x{r} AS MATERIALIZED (
            SELECT v, y / nrm AS x FROM y{r} CROSS JOIN nrm{r}
        )""",
        rounds,
    )
    return f"""
        WITH {chain}
        SELECT CAST(v AS BIGINT) AS v, round(x, 6) AS score
        FROM x{rounds}
        ORDER BY round(x, 6) DESC, v
        LIMIT 100
    """


QUERIES = {"graph_eigenvector_centrality": graph_eigenvector_centrality}
ORACLE = {"graph_eigenvector_centrality": _eigenvector_oracle_sql()}
