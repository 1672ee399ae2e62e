"""Strongly connected components over the DIRECTED vertex-fixture graph
(SURVEY.md §2B graph ops) — the directed twin of
``graph_connected_components``: v and u share an SCC iff they are
MUTUALLY reachable, so the undirected hash-min labels (which merge
one-way-connected vertices) are wrong for directed semantics.

Algorithm here: path-doubling reachability closure — R ← R ∪ (R ∘ R)
squares the reachable path length each round, so ``DOUBLING_ROUNDS`` = 5
cover 32 hops (≫ the fixture diameter), stopping early once the observed
pair count is stable. SCC label(v) = min id over the mutual
set {v} ∪ {u : (v,u) ∈ R ∧ (u,v) ∈ R} — one self-join of the closure on
swapped keys + one min aggregate.

Honest scale boundary: materializing the closure is O(|V|·reach) — exact
and cheap in the 500-id embedding-vertex space (≤ 250k pairs), and
exactly what makes the recursive-CTE oracle viable, but NOT the 100 TB
path. The REGISTERED ``graph_scc`` plan therefore runs the scale-safe
forward-backward coloring (Orzan / FB-trim, ``scc_labels_fb``): iterated
forward-min + backward-min label passes — the same join+agg round shape
as ``graph/components.py``, ~|V| state per round instead of the closure.
``scc_labels`` (the closure) remains as the independent test twin; label
equality is pinned in tests. The plan-shape lesson (per-round
localCheckpoint against the 2^rounds re-analysis blowup) applies to both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints

DOUBLING_ROUNDS = 5  # 2^5 = 32-hop closure, far beyond the fixture diameter


@release_superseded_checkpoints
def scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = Observation()
    e = (
        derive_vertex_embeddings(spark, sf_dir)
        .distinct()
        .select(F.col("src_v").alias("v"), F.col("dst_v").alias("u"))
        .filter(F.col("v") != F.col("u"))
        .observe(rows, F.count("*").alias("n"))
        .localCheckpoint()
    )
    reach = e
    n_prev = rows.get["n"]
    for _ in range(DOUBLING_ROUNDS):
        hop = (
            reach.alias("r1")
            .join(
                reach.alias("r2"),
                F.col("r1.u") == F.col("r2.v"),
            )
            .select(F.col("r1.v").alias("v"), F.col("r2.u").alias("u"))
        )
        # reach referenced twice per round (identity + composition):
        # checkpoint keeps Catalyst analysis O(1) per round. The
        # post-fixpoint doubling rounds are the most expensive joins of
        # all, so stop on a stable pair count (observed on the checkpoint)
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


MAX_OUTER = 12  # condensation-chain bound for the fixture graph
MAX_INNER = 25  # propagation fixpoint bound (graph diameter)


@release_superseded_checkpoints
def scc_labels_fb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB SCC path — forward-backward coloring (Orzan-style), the
    closure-free algorithm ``scc_labels``' docstring promises: per outer
    round, (1) propagate min-reaching-id forward to fixpoint — color(v) =
    min u that reaches v — so color classes partition the graph with the
    class min as root; (2) mark vertices that reach their root BACKWARD
    within their own color class — marked = FW ∩ BW = the root's whole
    SCC, one SCC peeled per color simultaneously; (3) remove peeled
    vertices and repeat on the remainder (outer rounds = longest chain in
    the condensation, not #SCCs). State is one (vertex, color) row per
    live vertex — never a reachability closure — and every step is a
    join+agg round like graph_connected_components', with the
    localCheckpoint lineage discipline and convergence observed on each
    round's checkpoint job. Equality with the exact closure labels is
    pinned in tests/test_round2d.py."""
    edges_all = (
        derive_vertex_embeddings(spark, sf_dir)
        .distinct()
        .select(F.col("src_v").alias("v"), F.col("dst_v").alias("u"))
        .filter(F.col("v") != F.col("u"))
        .localCheckpoint()
    )
    verts = (
        edges_all.select("v")
        .union(edges_all.select(F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    done_parts: list[DataFrame] = []
    remaining, edges = verts, edges_all
    for _ in range(MAX_OUTER):
        # (1) forward min-reaching-id to fixpoint
        color = remaining.withColumn("c", F.col("v")).localCheckpoint()
        for _ in range(MAX_INNER):
            nbr_min = (
                edges.join(color.select(F.col("v").alias("src"), "c"),
                           edges.v == F.col("src"))
                .groupBy(F.col("u").alias("v2"))
                .agg(F.min("c").alias("nc"))
            )
            lowered = Observation()
            color = (
                color.join(nbr_min, color.v == nbr_min.v2, "left")
                .observe(lowered, F.count_if(F.col("nc") < F.col("c")).alias("n"))
                .select(
                    "v", F.least(F.col("c"), F.coalesce("nc", F.col("c"))).alias("c")
                )
                .localCheckpoint()
            )
            if lowered.get["n"] == 0:
                break
        # (2) backward marking within color class, from each class root
        rows = Observation()
        marked = (
            color.filter(F.col("v") == F.col("c")).select("v", "c")
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        n_marked = rows.get["n"]
        for _ in range(MAX_INNER):
            step = (
                edges.join(marked.select(F.col("v").alias("dst"), "c"),
                           edges.u == F.col("dst"))
                .select(F.col("v").alias("mv"), "c")
                .join(
                    color.select(F.col("v").alias("mv"), F.col("c").alias("vc")),
                    "mv",
                )
                .filter(F.col("c") == F.col("vc"))
                .select(F.col("mv").alias("v"), "c")
            )
            rows = Observation()
            marked = (
                marked.union(step).distinct()
                .observe(rows, F.count("*").alias("n"))
                .localCheckpoint()
            )
            if rows.get["n"] == n_marked:
                break
            n_marked = rows.get["n"]
        done_parts.append(marked.select("v", F.col("c").alias("scc")))
        # (3) peel and continue on the remainder
        remaining = remaining.join(marked.select("v"), "v", "left_anti").localCheckpoint()
        if remaining.isEmpty():
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
    labels = scc_labels_fb(spark, sf_dir)
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
