"""The triangle pipeline (graph/triangles.py): its numpy kernel, its two
tiers and the two keys that read it, each against an independent
reference — brute force, a plain two-join enumeration, or the dense
one-shot (A² ∘ A) row sums."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import flink_streaming_gnn_spark.graph.triangles as tri_mod
from flink_streaming_gnn_spark.graph.clustering import graph_clustering_coefficient
from flink_streaming_gnn_spark.graph.edges import supplier_edges
from flink_streaming_gnn_spark.graph.triangles import (
    _component_tri,
    _dense_component_pv,
    _per_vertex_joins,
    _split_components,
    graph_triangle_count,
)
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

DRIVER_SLAB = 64 << 20  # the slab budget of the driver tier


def _pv_truth(e):
    """Whole-graph driver-kernel truth: {v: (degree, tri)}."""
    pv = _component_tri(e.toPandas(), slab_floats=DRIVER_SLAB)
    return {int(v): (int(d), int(t)) for v, d, t in pv.itertuples(index=False)}


def _kernel_vs_one_shot(adj, slab):
    """``_component_tri`` on the a<b edges of ``adj`` must give each
    non-isolated vertex its degree and half its one-shot (A² ∘ A) row
    sum; isolated vertices have no edge and are absent."""
    want = ((adj @ adj) * adj).sum(axis=1, dtype=np.float64)
    a, b = np.nonzero(np.triu(adj))
    got = _component_tri(pd.DataFrame({"a": a, "b": b}), slab_floats=slab)
    deg = adj.sum(axis=1)
    live = np.flatnonzero(deg)
    assert got["v"].tolist() == live.tolist(), slab
    assert got["degree"].tolist() == deg[live].astype(np.int64).tolist(), slab
    assert np.array_equal(got["tri"].to_numpy() * 2.0, want[live]), slab


@pytest.mark.parametrize("seed", range(8))
def test_component_tri_random_graphs(seed):
    """Random symmetric graphs across random slab budgets — including the
    empty graph and the complete graph."""
    rng = np.random.default_rng(100 + seed)
    n = int(rng.integers(1, 60))
    adj = np.zeros((n, n), dtype=np.float32)
    if seed % 4 == 0:
        adj[:] = 1.0
        np.fill_diagonal(adj, 0.0)  # complete graph
    elif seed % 4 != 1:  # seed % 4 == 1 leaves the empty graph
        m = int(rng.integers(0, n * 3 + 1))
        for a, b in rng.integers(0, n, size=(m, 2)):
            if a != b:
                adj[a, b] = adj[b, a] = 1.0
    slab = int(rng.choice([1, 7, n, n * n, 1 << 26]))
    _kernel_vs_one_shot(adj, slab)


def test_component_tri_slab_parity():
    """Slab budgets that force 1, several, and n blocks."""
    rng = np.random.default_rng(42)
    n = 97
    adj = np.zeros((n, n), dtype=np.float32)
    idx = rng.integers(0, n, size=(400, 2))
    for a, b in idx:
        if a != b:
            adj[a, b] = adj[b, a] = 1.0
    for slab in (DRIVER_SLAB, 1024, 97, 1):
        _kernel_vs_one_shot(adj, slab)


def test_triangle_tiers_agree(spark):
    """The oriented-join enumeration counts per vertex exactly what the
    driver kernel counts on the whole fixture graph."""
    e = supplier_edges(spark, SF_SMOKE).localCheckpoint()
    truth = _pv_truth(e)
    joins = {
        int(r["v"]): (int(r["degree"]), int(r["tri"]))
        for r in _per_vertex_joins(e).collect()
    }
    assert joins == truth
    assert sum(t for _, t in truth.values()) > 0  # fixture has triangles


def test_driver_kernel_vs_join_reference(spark):
    """The driver kernel's (degree, tri) against a plain ascending-id
    two-join enumeration written here."""
    e = supplier_edges(spark, SF_SMOKE).localCheckpoint()
    truth = _pv_truth(e)
    deg = {
        int(r.supplier): int(r.degree)
        for r in e.select(F.explode(F.array("a", "b")).alias("supplier"))
        .groupBy("supplier")
        .agg(F.count("*").alias("degree"))
        .collect()
    }
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        e.join(e2, e.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    )
    tri_v = {
        int(r.supplier): int(r.n)
        for r in tris.select(F.explode(F.array("a", "b", "c")).alias("supplier"))
        .groupBy("supplier")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {s: d for s, (d, _) in truth.items()} == deg
    assert {s: t for s, (_, t) in truth.items() if t} == tri_v


def test_component_split_invariants(spark):
    """dense_e edges are label-closed, vertex sets are disjoint between
    tiers, and no edge is lost."""
    e = supplier_edges(spark, SF_SMOKE).localCheckpoint()
    dense_e, sparse_e = _split_components(e)
    n_e = e.count()
    n_dense, n_sparse = dense_e.count(), sparse_e.count()
    assert n_dense + n_sparse == n_e
    dv = {
        r["v"]
        for r in dense_e.select(
            F.explode(F.array("a", "b")).alias("v")
        ).distinct().collect()
    }
    sv = {
        r["v"]
        for r in sparse_e.select(
            F.explode(F.array("a", "b")).alias("v")
        ).distinct().collect()
    }
    assert not (dv & sv)  # a vertex lives in exactly one tier


def test_component_tiers_match_dense_truth(spark, monkeypatch):
    """The component tier (executor kernel ∪ sparse joins) must
    reproduce the whole-graph driver kernel exactly — at the natural
    component bound, with everything FORCED sparse, and with everything
    forced dense."""
    e = supplier_edges(spark, SF_SMOKE).localCheckpoint()
    truth = _pv_truth(e)

    def run_split():
        dense_e, sparse_e = _split_components(e)
        got = {}
        for r in _dense_component_pv(dense_e).collect():
            got[r["v"]] = (r["degree"], r["tri"])
        for r in _per_vertex_joins(sparse_e).collect():
            got[r["v"]] = (r["degree"], r["tri"])
        return got

    assert run_split() == truth  # natural bound
    monkeypatch.setattr(tri_mod, "DENSE_COMPONENT_V_BOUND", 0)  # all sparse
    assert run_split() == truth
    monkeypatch.setattr(tri_mod, "DENSE_COMPONENT_V_BOUND", 1 << 30)  # all dense
    assert run_split() == truth


def test_triangle_keys_forced_distributed_tier(spark, monkeypatch):
    """Both registry keys, FORCED onto the component tier (driver bounds
    patched to 0), must equal their driver-tier fixture answers row for
    row."""

    def tri_rows():
        return sorted(tuple(r) for r in graph_triangle_count(spark, SF_SMOKE).collect())

    def clu_rows():
        return sorted(
            tuple(r) for r in graph_clustering_coefficient(spark, SF_SMOKE).collect()
        )

    want_tri, want_clu = tri_rows(), clu_rows()
    monkeypatch.setattr(tri_mod, "DENSE_V_BOUND", 0)
    monkeypatch.setattr(tri_mod, "DENSE_E_BOUND", 0)
    assert tri_rows() == want_tri
    assert clu_rows() == want_clu


def test_triangle_count_matches_bruteforce(spark):
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .toPandas()
    )
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        for a, b in itertools.combinations(sorted(set(grp.l_suppkey)), 2):
            edges.add((int(a), int(b)))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    n_tri = sum(
        1
        for a, b in edges
        for c in adj.get(b, ())
        if c in adj.get(a, ())
    )
    row = graph_triangle_count(spark, SF_SMOKE).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_triangles == n_tri


def test_clustering_coefficient_brute_force(spark):
    edges = {
        (int(r.a), int(r.b)) for r in supplier_edges(spark, SF_SMOKE).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {
        int(r.supplier): r
        for r in graph_clustering_coefficient(spark, SF_SMOKE).collect()
    }
    checked = 0
    for v, nbrs in adj.items():
        if len(nbrs) < 2:
            assert v not in out
            continue
        tri = sum(
            1
            for x, y in itertools.combinations(sorted(nbrs), 2)
            if y in adj.get(x, ())
        )
        row = out[v]
        assert row.degree == len(nbrs)
        assert row.n_triangles == tri
        expect = 2.0 * tri / (len(nbrs) * (len(nbrs) - 1))
        assert abs(row.clustering - expect) < 1e-6
        assert 0.0 <= row.clustering <= 1.0
        checked += 1
    assert checked == len(out) > 0
