"""Iterative kernels run to their fixpoint, whatever its depth: each
graph below needs more rounds than the round caps these loops once had
(condensation: 12 peels, k-core: 30 rounds, coreness: 60 rounds), and a
capped loop returned its unfinished state without a word."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_condensation_of_transitive_tournament_has_every_level(spark, monkeypatch):
    """i → j for all i < j on 14 vertices: every vertex is its own SCC,
    the FB peel removes one per outer round, and the longest path to
    vertex i has i edges."""
    from flink_streaming_gnn_spark.graph import condensation, scc

    n = 14
    tournament = [(i, j) for i in range(n) for j in range(i + 1, n)]

    def edges(spark, sf_dir):
        return spark.createDataFrame(tournament, "src_v long, dst_v long")

    monkeypatch.setattr(scc, "derive_vertex_embeddings", edges)
    got = [
        tuple(r)
        for r in condensation.graph_condensation_dag(spark, SF_SMOKE).collect()
    ]
    assert got == [(i, 1, i, n - 1 - i) for i in range(n)]


def test_kcore_of_long_path_is_empty(spark, monkeypatch):
    """A path has no 2-core; peeling removes one vertex from each end
    per round, so 66 vertices take 33 rounds."""
    from flink_streaming_gnn_spark.graph import kcore

    path = [(i, i + 1) for i in range(65)]
    monkeypatch.setattr(
        kcore,
        "supplier_edges",
        lambda spark, sf_dir: spark.createDataFrame(path, "a long, b long"),
    )
    assert kcore.kcore_vertices(spark, SF_SMOKE, k=2).collect() == []


def test_coreness_of_long_path_is_one(spark, monkeypatch):
    """Every vertex of a path has coreness 1; the h-index estimates fall
    from 2 to 1 one vertex per round inward from both ends, so 130
    vertices take 65 rounds."""
    from flink_streaming_gnn_spark.graph import coreness

    path = [(i, i + 1) for i in range(129)]
    monkeypatch.setattr(
        coreness,
        "bipartite_pairs",
        lambda edges: edges.sparkSession.createDataFrame(path, "a long, b long"),
    )
    got = {
        r["v"]: r["coreness"]
        for r in coreness.graph_coreness_hindex(spark, SF_SMOKE).collect()
    }
    assert got == {v: 1 for v in range(130)}
