"""Connected components: the Spark hash-min propagation must match a
plain union-find ground truth exactly (labels are deterministic: min
vertex id per component)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.components import (
    cc_labels,
    graph_connected_components,
    hash_min_cc,
)
from flink_streaming_gnn_spark.graph.edges import derive_edges
from tests.conftest import SF_SMOKE


class _UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _ground_truth(spark):
    edges = derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().toPandas()
    uf = _UnionFind()
    for r in edges.itertuples():
        uf.union(int(r.src) * 2, int(r.dst) * 2 + 1)
    labels = {}
    for v in list(uf.parent):
        root = uf.find(v)
        labels[v] = root
    # min vertex id per component == union-find root relabeled to min member
    comp_min: dict[int, int] = {}
    for v, root in labels.items():
        comp_min[root] = min(comp_min.get(root, v), v)
    return {v: comp_min[root] for v, root in labels.items()}


def test_cc_labels_match_union_find(spark):
    truth = _ground_truth(spark)
    got = {int(r["v"]): int(r["lbl"]) for r in cc_labels(spark, SF_SMOKE).collect()}
    assert got == truth


def test_cc_summary_consistent(spark):
    truth = _ground_truth(spark)
    summary = graph_connected_components(spark, SF_SMOKE).toPandas()
    assert summary["n_vertices"].sum() == len(truth)
    # one row per distinct component, labeled by its min vertex
    comps = {}
    for v, lbl in truth.items():
        comps.setdefault(lbl, []).append(v)
    assert sorted(summary["component"]) == sorted(comps)
    for row in summary.itertuples():
        members = comps[int(row.component)]
        assert row.n_vertices == len(members)
        assert row.n_customers == sum(1 for m in members if m % 2 == 0)
        assert row.n_suppliers == sum(1 for m in members if m % 2 == 1)


def _undirected_frame(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "a long, b long")


def _union_find_labels(pairs):
    uf = _UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return {v: uf.find(v) for v in list(uf.parent)}


def test_hash_min_cc_generic_edges_match_union_find(spark):
    """Three-plus components on a generic (a, b) frame: a path whose min id
    sits at one end (8 rounds to converge), a triangle with a duplicated
    edge and a self-loop, a star whose centre is not the min, and a
    vertex whose only edge is a self-loop."""
    path = [(17 - i, 16 - i) for i in range(7)]  # 17-16-...-10
    triangle = [(20, 21), (21, 22), (22, 20), (20, 21), (22, 22)]
    star = [(45, 40), (45, 41), (45, 42)]
    pairs = path + triangle + star + [(30, 30)]
    got = {
        int(r["v"]): int(r["lbl"])
        for r in hash_min_cc(_undirected_frame(spark, pairs)).collect()
    }
    assert got == _union_find_labels(pairs)
    assert len(set(got.values())) == 4


def _jobs_for_path(spark, n, group):
    """Spark jobs one hash_min_cc call runs on the path 0-1-...-(n-1),
    which takes n rounds (n-1 that lower a label, one that confirms)."""
    sc = spark.sparkContext
    edges = _undirected_frame(spark, [(i, i + 1) for i in range(n - 1)])
    sc.setJobGroup(group, "hash_min_cc job count")
    try:
        labels = hash_min_cc(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["lbl"] for r in labels.collect()} == {0}
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_hash_min_cc_jobs_per_round(spark):
    """Each added round costs at most 6 Spark jobs: one join + one aggregate
    ending in the round's checkpoint, with convergence observed on it."""
    k = 28
    short = _jobs_for_path(spark, 4, "cc_rounds_short")
    long = _jobs_for_path(spark, 4 + k, "cc_rounds_long")
    assert long - short <= 6 * k, (short, long)


def _seeded_reference(edges, seeds):
    """Python fixpoint of seeded hash-min: along each edge (a, b) the
    label of b flows to a; a null label is "no label yet"."""
    lbl = dict(seeds)
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            if lbl[b] is not None and (lbl[a] is None or lbl[b] < lbl[a]):
                lbl[a] = lbl[b]
                changed = True
    return lbl


def test_hash_min_cc_seeded_directed_matches_python(spark):
    """Seeded mode on directed edges (a, b) = b → a: a cycle 2 → 3 → 5 →
    4 → 2 with null seeds on 2, 3 and 5, vertex 6 with out-edges only
    (it only appears as b), a null-seeded vertex that no label reaches
    (7), and one that is reached only through the cycle (8)."""
    seeds = {1: 5, 2: None, 3: None, 4: 9, 5: None, 6: 2, 7: None, 8: None}
    edges = [(2, 4), (3, 2), (5, 3), (4, 5), (3, 1), (1, 6), (8, 5)]
    got = {
        int(r["v"]): r["lbl"]
        for r in hash_min_cc(
            spark.createDataFrame(edges, "a long, b long"),
            spark.createDataFrame(list(seeds.items()), "v long, lbl long"),
        ).collect()
    }
    want = _seeded_reference(edges, seeds)
    assert got == want
    assert want[7] is None and want[6] == 2 and want[4] == 2
