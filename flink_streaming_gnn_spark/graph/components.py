"""Connected components over the derived bipartite graph — the classic
iterative graph operator the relational engine must also express
(SURVEY.md §2B GNN/graph rows; same driver-loop iteration shape as the
reference's A10 feedback edge). ``hash_min_cc`` is the engine's one CC
loop: streaming CC, the triangle split, dedup and Borůvka call it too,
and in its seeded mode it is SCC's forward and backward pass.

Algorithm: hash-min label propagation. Every vertex starts labeled with
its own id; each round takes the min of its own and its neighbors' labels;
fixpoint = every vertex carries the min vertex id of its component. With
one self-loop per vertex in the adjacency, "own and neighbors'" is just
N(v) ∪ {v}, so each round is one join + one aggregate (both shuffle on
vertex id, so at scale consecutive rounds reuse the same hash
partitioning) ending in the round's checkpoint. The aggregate also keeps
the vertex's previous label (the self-loop row), and the number of
lowered labels is observed on that same checkpoint job: the driver reads
one scalar per round and runs no job beyond the round itself.

Termination, with no round cap: labels only decrease, and after round r
every vertex carries the minimum id within distance r. So the labels are
final after diameter rounds and the next round lowers none: at most
diameter + 1 rounds.

No pointer-jump shortcut (edges ``v → lbl(v)``) and no large-star/
small-star (Kiveris et al., SoCC'14): both cut rounds, and rounds are not
what costs here (measured, 4 cores). The CC corpora have a small
diameter: the ``stream_graph`` corpus converges in 4 rounds, and the
shortcut saved 0–1 rounds per Borůvka merge forest (graph/mst.py; 31 →
30 rounds in total at sf0.1). It is logarithmic only on id-sorted chains
(63 → 7 rounds); a path with shuffled ids still took about linear rounds
(21–33 for 64 vertices, 196–503 for 1000). It references the labels twice
per round, so it needs ``fresh_frame`` to stay flat, and on the
``stream_graph`` corpus it ran the same 4 rounds and 25 jobs at a median
4.21 s of CPU against 3.86 s. The plain loop stays flat at 0.2–0.3 s and
5 jobs per round out to 150 rounds.

Vertex-id space: customers 2c, suppliers 2s+1 (graph/edges.py).

Output is the deterministic per-component summary (label = min vertex id
in component, size, customer/supplier breakdown). Round-2 upgrade: EXACT
oracle — not via the |V|²-reachability recursive CTE (still off the
table), but by unrolling the hash-min propagation itself to fixed
MATERIALIZED rounds (linear per round), whose guard raises if the last
round still lowered a label.
Union-find parity stays pinned in tests/test_components.py.
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
from flink_streaming_gnn_spark.plans import truncate


@truncate.release_superseded_checkpoints
def hash_min_cc(edges: DataFrame, labels: DataFrame | None = None) -> DataFrame:
    """Hash-min label propagation over an edge frame ``(a, b)``: each
    round, a takes the min of its own label and the labels of every b
    with an edge ``(a, b)``. Returns the fixpoint ``(v, lbl)`` labels.

    ``labels=None`` is connected components: ``edges`` is undirected
    (both directions present; self-loops and duplicates harmless) and
    every vertex of ``a`` starts with its own id. Given ``labels``
    ``(v, lbl)``, labels flow along the directed edges ``b → a`` from
    those seeds, and a null label means "no label yet" (SCC's passes,
    graph/scc.py). Precondition: ``edges`` only joins vertices of
    ``labels``; a vertex outside it has no old label and never settles.

    One self-loop per vertex is added once, so a round is one join and
    one aggregate: min over N(v) ∪ {v} is the new label, and the
    self-loop row carries the old one. ``truncate.iterate`` runs the
    rounds until ``count_if(NOT lbl <=> old)`` (null-safe; ``lbl < old``
    without nulls) is 0: at most diameter + 1 rounds."""
    if labels is None:
        loops = edges.select("a", F.col("a").alias("b")).distinct()
    else:
        loops = labels.select(F.col("v").alias("a"), F.col("v").alias("b"))
    adj = edges.union(loops).localCheckpoint()
    if labels is None:
        labels = adj.filter(F.col("a") == F.col("b")).select(
            F.col("a").alias("v"), F.col("b").alias("lbl")
        )

    def step(labels, observe):
        return observe(
            adj.join(labels, adj.b == labels.v)
            .groupBy(F.col("a").alias("v"))
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("lbl"))).alias("old"),
            ),
            F.count_if(~F.col("lbl").eqNullSafe(F.col("old"))),
        ).select("v", "lbl")

    return truncate.iterate(labels, step)


def cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex component labels by hash-min propagation (see
    ``hash_min_cc``)."""
    return hash_min_cc(both_directions(bipartite_pairs(derive_edges(spark, sf_dir))))


def component_summary(labels: DataFrame) -> DataFrame:
    """Per-component summary of ``(v, lbl)`` labels: label (min vertex
    id), total size, and the customer/supplier split (``v % 2``) —
    deterministic, so invariant tests can pin it exactly against
    union-find. Shared by the batch key and ``stream_cc_e2e``."""
    return (
        labels.groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum(((F.col("v") % 2) == 0).cast("long")).cast("long").alias("n_customers"),
            F.sum(((F.col("v") % 2) == 1).cast("long")).cast("long").alias("n_suppliers"),
        )
        .select(
            F.col("lbl").cast("long").alias("component"),
            "n_vertices",
            "n_customers",
            "n_suppliers",
        )
        .orderBy("component")
    )


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the summary is built directly on the final checkpointed labels frame
    # (lineage-free, so no recompute risk); worst-case #components is
    # O(|V|), so the result must never be collected to the driver —
    # intermediate round frames are reclaimed by the ContextCleaner once
    # they go out of scope
    return component_summary(cc_labels(spark, sf_dir))


QUERIES = {"graph_connected_components": graph_connected_components}

CC_ORACLE_ROUNDS = 20  # converged after 3 rounds at sf0.01, 4 at sf0.1; the guard checks it


def _cc_oracle_sql(rounds: int = CC_ORACLE_ROUNDS) -> str:
    """Round-2 upgrade from rows-only: the |V|²-reachability recursive CTE
    stays off the table, but the HASH-MIN propagation itself unrolls to
    fixed rounds of |V|-state min-joins (the LPA/k-core/PageRank trick) —
    linear per round, and exact once the unroll covers the diameter,
    which the guard of ``truncate.unroll`` checks. All CTEs MATERIALIZED
    (each round referenced twice)."""
    chain = truncate.unroll(
        f"""{BIPARTITE_PAIRS_CTE},
        ue AS MATERIALIZED (
            SELECT a, b FROM bipartite UNION ALL SELECT b AS a, a AS b FROM bipartite
        ),
        l0 AS MATERIALIZED (
            SELECT DISTINCT a AS v, a AS lbl FROM ue
        )""",
        lambda r: f"""nmin{r} AS MATERIALIZED (
            SELECT ue.a, min(l.lbl) AS m
            FROM ue JOIN l{r - 1} l ON l.v = ue.b
            GROUP BY ue.a
        ),
        l{r} AS MATERIALIZED (
            SELECT l.v, least(l.lbl, COALESCE(n.m, l.lbl)) AS lbl
            FROM l{r - 1} l LEFT JOIN nmin{r} n ON n.a = l.v
        )""",
        rounds,
        fixpoint="l{r}",
    )
    return f"""
        WITH {chain}
        SELECT CAST(lbl AS BIGINT) AS component,
               CAST(count(*) AS BIGINT) AS n_vertices,
               CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_customers,
               CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_suppliers
        FROM l{rounds}
        WHERE {truncate.converged("l{r}", rounds)}
        GROUP BY lbl
        ORDER BY component
    """


ORACLE = {"graph_connected_components": _cc_oracle_sql()}
