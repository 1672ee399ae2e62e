"""Condensation DAG of the directed fixture graph (SURVEY.md §2B graph
ops) — contract every strongly connected component of ``graph/scc.py``
to one node; the result is always a DAG, and it is the object the
downstream scheduling/lineage questions are asked of (what depends on
what, how deep is the dependency chain). Per component this emits:

* ``n_vertices`` — SCC size (the ``graph_scc`` summary carried over),
* ``n_succ`` — distinct successor components in the condensation,
* ``level`` — LONGEST path from any source of the DAG (topological
  depth; sources are level 0) via bounded max-propagation DP.

Spark-first shape: the directed edges are derived and checkpointed
once; SCC labels come from them by the closure-free forward–backward
coloring (``scc_labels_fb`` — the 100 TB SCC path), and the
condensation edges are two broadcast-gated label joins + a distinct
(never a closure); the level DP is one join + max-agg per round over
the |SCCs|-sized DAG on ``truncate.iterate``, uncapped: levels only
rise, so rounds are the DAG's longest chain + 1, and the count of raised
levels is the round's observed count, so convergence costs no job.

The DuckDB oracle recomputes everything from the recursive reachability
closure (the independent SCC formulation) + a recursive longest-path
CTE — a cross-algorithm proof, same discipline as graph_scc itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE
from flink_streaming_gnn_spark.graph.scc import directed_edges, scc_labels_fb
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.plans import truncate


@truncate.release_superseded_checkpoints
def graph_condensation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one edge derivation: SCC and the condensation edges share it
    e = directed_edges(spark, sf_dir).localCheckpoint()
    labels = scc_labels_fb(e).localCheckpoint()
    lab_src = maybe_broadcast(labels.select(F.col("v"), F.col("scc").alias("c_src")))
    lab_dst = maybe_broadcast(
        labels.select(F.col("v").alias("u"), F.col("scc").alias("c_dst"))
    )
    cond_edges = (
        e.join(lab_src, "v")
        .join(lab_dst, "u")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select("c_src", "c_dst")
        .distinct()
        .localCheckpoint()
    )
    comps = labels.groupBy(F.col("scc").alias("c")).agg(
        F.count("*").cast("long").alias("n_vertices")
    ).localCheckpoint()

    # longest-path-from-source DP over the (tiny vs |V|) condensation DAG
    lvl = comps.select("c", F.lit(0).alias("level")).localCheckpoint()

    def step(lvl, observe):
        via = (
            cond_edges.join(
                lvl.select(F.col("c").alias("c_src"), F.col("level").alias("pl")),
                "c_src",
            )
            .groupBy(F.col("c_dst").alias("c"))
            .agg((F.max("pl") + 1).alias("nl"))
        )
        return observe(
            lvl.join(via, "c", "left"), F.count_if(F.col("nl") > F.col("level"))
        ).select("c", F.greatest("level", F.coalesce("nl", "level")).alias("level"))

    lvl = truncate.iterate(lvl, step)
    n_succ = cond_edges.groupBy(F.col("c_src").alias("c")).agg(
        F.count("*").cast("long").alias("n_succ")
    )
    return (
        comps.join(lvl, "c")
        .join(n_succ, "c", "left")
        .select(
            F.col("c").cast("long").alias("scc"),
            "n_vertices",
            F.col("level").cast("long").alias("level"),
            F.coalesce("n_succ", F.lit(0)).cast("long").alias("n_succ"),
        )
        .orderBy("scc")
    )


QUERIES = {"graph_condensation_dag": graph_condensation_dag}

ORACLE = {
    "graph_condensation_dag": f"""
        WITH RECURSIVE {EDGES_V_CTE},
        e AS (SELECT DISTINCT src_v AS v, dst_v AS u FROM edges_v
              WHERE src_v <> dst_v),
        reach(v, u) AS (
            SELECT v, u FROM e
            UNION
            SELECT r.v, e.u FROM reach r JOIN e ON e.v = r.u
        ),
        mutual AS (
            SELECT f.v, f.u AS m
            FROM reach f JOIN reach b ON b.v = f.u AND b.u = f.v
        ),
        verts AS (SELECT v FROM e UNION SELECT u AS v FROM e),
        lab AS (
            SELECT verts.v,
                   COALESCE(least(min(mutual.m), verts.v), verts.v) AS scc
            FROM verts LEFT JOIN mutual ON mutual.v = verts.v
            GROUP BY verts.v
        ),
        cedges AS (
            SELECT DISTINCT ls.scc AS c_src, ld.scc AS c_dst
            FROM e
            JOIN lab ls ON ls.v = e.v
            JOIN lab ld ON ld.v = e.u
            WHERE ls.scc <> ld.scc
        ),
        comps AS (
            SELECT scc AS c, CAST(count(*) AS BIGINT) AS n_vertices
            FROM lab GROUP BY scc
        ),
        paths(c, l) AS (
            SELECT c, 0 FROM comps
            UNION
            SELECT ce.c_dst, p.l + 1
            FROM paths p JOIN cedges ce ON ce.c_src = p.c
        ),
        lvl AS (SELECT c, max(l) AS level FROM paths GROUP BY c),
        succ AS (
            SELECT c_src AS c, CAST(count(*) AS BIGINT) AS n_succ
            FROM cedges GROUP BY c_src
        )
        SELECT CAST(comps.c AS BIGINT) AS scc,
               comps.n_vertices,
               CAST(lvl.level AS BIGINT) AS level,
               COALESCE(succ.n_succ, 0) AS n_succ
        FROM comps
        JOIN lvl ON lvl.c = comps.c
        LEFT JOIN succ ON succ.c = comps.c
        ORDER BY scc
    """,
}
