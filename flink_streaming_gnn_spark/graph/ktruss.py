"""k-truss decomposition by iterative support peeling (SURVEY.md §2B
graph algorithms family — the triangle-density community filter; Cohen
2008, the standard distributed formulation: recompute edge support,
drop edges with support < k−2, repeat to fixpoint).

Graph: the projected (mod-500) vertex space (``edges_v``) — the same
bounded graph ``graph_triangle_count`` uses, canonicalized to a < b
undirected simple edges. Spark-first round: edge support = triangle
count through each edge, computed as edges ⋈ directed-neighbors ⋈
directed-neighbors (two equi-joins + one hash agg, all on vertex keys —
the standard relational triangle join), checkpointed as ``(a, b, s)``.
``truncate.iterate`` runs the rounds on that frame, from the edges with
a placeholder support of k−2: round r drops the edges below k−2, counts
supports on the rest, and observes how many fall below k−2. Once that
count is 0 the supports are final; no round cap.

Exact oracle: the peel is monotone (edge sets only shrink), so an
ORACLE_ROUNDS-deep CTE chain (``truncate.unroll``) reproduces the
converged truss exactly once it reaches the fixpoint (5 peeling rounds
at K=60 on sf0.01, none at sf0.1), and the unroll's guard raises if it
has not. Output is the surviving edges with their final support, so the
hash pins the whole peeling computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    EDGES_V_CTE,
    both_directions,
    derive_vertex_embeddings,
)
from flink_streaming_gnn_spark.plans import truncate

KTRUSS_K = 60
ORACLE_ROUNDS = 7  # sf0.01 peels for 5 rounds; the unroll's guard needs one more
# Constant-bounded local peel (the graph/mst.py LOCAL_TAIL_EDGES
# discipline): at or below this edge count the whole peel runs as a
# driver-side set-intersection loop — the collect is bounded by the
# CONSTANT, never by data size. The projected (mod-500) graph is in
# fact constant-bounded by construction (≤ C(500,2) edges at any sf),
# so at every fixture scale the peel is the tail; the distributed
# round shape stays for general graphs and is pinned equal to the
# local peel by tests/test_round5.py (LOCAL_PEEL_EDGES = 0).
LOCAL_PEEL_EDGES = 131072


def _canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected simple edges of the projected graph, a < b."""
    ev = derive_vertex_embeddings(spark, sf_dir)
    return (
        ev.filter(F.col("src_v") != F.col("dst_v"))
        .select(
            F.least("src_v", "dst_v").alias("a"),
            F.greatest("src_v", "dst_v").alias("b"),
        )
        .distinct()
    )


def _support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support: count of common neighbors of (a, b)."""
    ue = both_directions(e)
    n1 = ue.select(F.col("a").alias("u1"), F.col("b").alias("w1"))
    n2 = ue.select(F.col("a").alias("u2"), F.col("b").alias("w2"))
    return (
        e.join(n1, e.a == n1.u1)
        .join(n2, (e.b == n2.u2) & (F.col("w1") == F.col("w2")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
    )


def _local_peel(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Driver-side support peel over a ≤ LOCAL_PEEL_EDGES edge set:
    identical fixpoint (the peel is a monotone function of the edge set,
    independent of execution strategy)."""
    edges = {(int(r["a"]), int(r["b"])) for r in e.collect()}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        kept = {k for k, s in sup.items() if s >= KTRUSS_K - 2}
        if kept == edges:
            break
        edges = kept
    out = [(a, b, sup[(a, b)]) for a, b in sorted(edges)]
    return spark.createDataFrame(out, "a long, b long, support long").orderBy(
        "a", "b"
    )


@truncate.release_superseded_checkpoints
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: the K-truss of the projected graph — surviving
    edges with their converged support (support ≥ K−2 within the truss).
    """
    rows = Observation()
    e = (
        _canonical_edges(spark, sf_dir)
        .select("a", "b", F.lit(KTRUSS_K - 2).alias("s"))
        .observe(rows, F.count("*").alias("n"))
        .localCheckpoint()
    )
    if rows.get["n"] <= LOCAL_PEEL_EDGES:
        return _local_peel(spark, e)

    def peel(sup, observe):
        return observe(
            _support(sup.filter(F.col("s") >= KTRUSS_K - 2).select("a", "b")),
            F.count_if(F.col("s") < KTRUSS_K - 2),
        )

    # once no edge falls below the bar, the supports were computed on the
    # final edge set, so they are the truss's final supports
    return truncate.iterate(e, peel).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("s").cast("long").alias("support"),
    ).orderBy("a", "b")


def _ktruss_oracle_sql(rounds: int = ORACLE_ROUNDS) -> str:
    # ue stays un-MATERIALIZED: inlining the two directed copies into the
    # support join lets DuckDB plan one fused pipeline per round
    # (measured 38 s → 10 s for the 7-round chain at sf0.01)
    chain = truncate.unroll(
        f"""{EDGES_V_CTE.strip().rstrip(',')},
        e0 AS MATERIALIZED (
            SELECT DISTINCT least(src_v, dst_v) AS a, greatest(src_v, dst_v) AS b
            FROM edges_v WHERE src_v <> dst_v
        )""",
        lambda r: f"""ue{r - 1} AS (
            SELECT a, b FROM e{r - 1} UNION ALL SELECT b AS a, a AS b FROM e{r - 1}
        ),
        sup{r} AS MATERIALIZED (
            SELECT e.a, e.b, count(*) AS s
            FROM e{r - 1} e
            JOIN ue{r - 1} n1 ON n1.a = e.a
            JOIN ue{r - 1} n2 ON n2.a = e.b AND n2.b = n1.b
            GROUP BY e.a, e.b
        ),
        e{r} AS MATERIALIZED (
            SELECT a, b FROM sup{r} WHERE s >= {KTRUSS_K} - 2
        )""",
        rounds,
        fixpoint="e{r}",
    )
    return f"""
        WITH {chain}
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(s AS BIGINT) AS support
        FROM sup{rounds} WHERE s >= {KTRUSS_K} - 2
          AND {truncate.converged("e{r}", rounds)}
        ORDER BY a, b
    """


QUERIES = {"graph_ktruss": graph_ktruss}
ORACLE = {"graph_ktruss": _ktruss_oracle_sql()}
