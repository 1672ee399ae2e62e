"""Strongly connected components over the DIRECTED vertex-fixture graph
(SURVEY.md §2B graph ops) — the directed twin of
``graph_connected_components``: v and u share an SCC iff they are
MUTUALLY reachable, so the undirected hash-min labels (which merge
one-way-connected vertices) are wrong for directed semantics.

Algorithm here: path-doubling reachability closure — R ← R ∪ (R ∘ R)
doubles the covered path length each round, so about log₂(diameter) + 1
rounds reach the closure; the loop stops once the pair count, observed
on the round's checkpoint, is stable. SCC label(v) = min id over the mutual
set {v} ∪ {u : (v,u) ∈ R ∧ (u,v) ∈ R} — one self-join of the closure on
swapped keys + one min aggregate.

Honest scale boundary: materializing the closure is O(|V|·reach) — exact
and cheap in the 500-id embedding-vertex space (≤ 250k pairs), and
exactly what makes the recursive-CTE oracle viable, but NOT the 100 TB
path. The REGISTERED ``graph_scc`` plan therefore runs the scale-safe
forward-backward coloring (Orzan / FB-trim, ``scc_labels_fb``): iterated
forward-min + backward-min label passes, both run by the CC kernel
``graph/components.hash_min_cc`` in its seeded mode, ~|V| state per
round instead of the closure.
``scc_labels`` (the closure) remains as the independent test twin; label
equality is pinned in tests. The plan-shape lesson (per-round
localCheckpoint against the 2^rounds re-analysis blowup) applies to both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.components import hash_min_cc
from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints


def directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed vertex-fixture graph as distinct ``(v, u)`` edges
    ``v → u``, self-loops dropped (they join no two vertices)."""
    return (
        derive_vertex_embeddings(spark, sf_dir)
        .distinct()
        .select(F.col("src_v").alias("v"), F.col("dst_v").alias("u"))
        .filter(F.col("v") != F.col("u"))
    )


@release_superseded_checkpoints
def scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = Observation()
    e = (
        directed_edges(spark, sf_dir)
        .observe(rows, F.count("*").alias("n"))
        .localCheckpoint()
    )
    reach = e
    n_prev = rows.get["n"]
    while True:
        hop = (
            reach.alias("r1")
            .join(
                reach.alias("r2"),
                F.col("r1.u") == F.col("r2.v"),
            )
            .select(F.col("r1.v").alias("v"), F.col("r2.u").alias("u"))
        )
        # reach referenced twice per round (identity + composition):
        # checkpoint keeps Catalyst analysis O(1) per round. The closure
        # is complete once a doubling adds no pair, so stop on a stable
        # pair count (observed on the checkpoint)
        rows = Observation()
        reach = (
            reach.union(hop).distinct()
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        if rows.get["n"] == n_prev:
            break
        n_prev = rows.get["n"]
    mutual = (
        reach.alias("f")
        .join(
            reach.alias("b"),
            (F.col("b.v") == F.col("f.u")) & (F.col("b.u") == F.col("f.v")),
        )
        .select(F.col("f.v").alias("v"), F.col("f.u").alias("m"))
    )
    verts = e.select("v").union(e.select(F.col("u").alias("v"))).distinct()
    return (
        verts.join(mutual, "v", "left")
        .groupBy("v")
        .agg(F.least(F.min("m"), F.min("v")).alias("scc"))
        .select("v", F.coalesce("scc", F.col("v")).alias("scc"))
    )


@release_superseded_checkpoints
def scc_labels_fb(edges: DataFrame) -> DataFrame:
    """``(v, scc)`` labels of ``edges``, a checkpointed
    ``directed_edges`` frame (the caller may reuse it). THE 100 TB SCC
    path — forward-backward coloring (Orzan-style), the closure-free
    algorithm ``scc_labels``' docstring promises. Per outer
    round: (1) forward pass — color(v) = min u that reaches v, so color
    classes partition the graph with the class min as root; (2) backward
    pass within each color class from its root — the vertices that reach
    their root, FW ∩ BW, are the root's whole SCC, one SCC peeled per
    color at once; (3) remove the peeled vertices and repeat on the
    remainder. Both passes are ``hash_min_cc`` in its seeded mode, so
    each runs to its fixpoint with one join + aggregate per round. Every
    outer round peels at least the roots, so the loop ends; it ends when
    the remainder's row count, observed on its checkpoint, is 0 (outer
    rounds = the longest chain of the condensation, not #SCCs). State is
    one (vertex, color) row per live vertex — never a reachability
    closure. Equality with the exact closure labels is pinned in
    tests/test_round2d.py."""
    remaining = (
        edges.select("v")
        .union(edges.select(F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    done_parts: list[DataFrame] = []
    while True:
        # (1) forward: labels flow along v → u, seeded with each vertex's id
        color = hash_min_cc(
            edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
            remaining.select("v", F.col("v").alias("lbl")),
        )
        # (2) backward within each color class, seeded at the class root
        intra = (
            edges.join(color.select("v", F.col("lbl").alias("cv")), "v")
            .join(color.select(F.col("v").alias("u"), F.col("lbl").alias("cu")), "u")
            .filter(F.col("cv") == F.col("cu"))
            .select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        roots = color.select(
            "v", F.when(F.col("v") == F.col("lbl"), F.col("lbl")).alias("lbl")
        )
        marked = hash_min_cc(intra, roots).filter(F.col("lbl").isNotNull())
        done_parts.append(marked.select("v", F.col("lbl").alias("scc")))
        # (3) peel and continue on the remainder
        rows = Observation()
        remaining = (
            remaining.join(marked.select("v"), "v", "left_anti")
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        if rows.get["n"] == 0:
            break
        live = remaining.select("v")
        edges = (
            edges.join(live, "v")
            .join(live.select(F.col("v").alias("u")), "u")
            .localCheckpoint()
        )
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.union(p)
    return out


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SCC summary: label = min vertex id in the component, size.

    Registered plan is the closure-free forward–backward coloring
    (``scc_labels_fb``) — the 100 TB path: per-round state is one
    (vertex, color) row per live vertex, never the O(|V|·reach)
    reachability closure. The closure variant (``scc_labels``) stays as
    the test twin; label equality between the two is pinned in
    tests/test_round2d.py, so the oracle hash-match carries over."""
    labels = scc_labels_fb(directed_edges(spark, sf_dir).localCheckpoint())
    return labels.groupBy(F.col("scc").cast("long").alias("scc")).agg(
        F.count("*").cast("long").alias("n_vertices")
    )


QUERIES = {"graph_scc": graph_scc}

ORACLE = {
    "graph_scc": f"""
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
        )
        SELECT CAST(scc AS BIGINT) AS scc,
               CAST(count(*) AS BIGINT) AS n_vertices
        FROM lab GROUP BY scc
    """,
}
