"""SCC and its condensation share one derivation of the directed edge
list (a lineitem ⋈ orders join)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_condensation_derives_edges_once(spark, monkeypatch):
    from flink_streaming_gnn_spark.graph import edges
    from flink_streaming_gnn_spark.graph.condensation import graph_condensation_dag

    calls = []
    derive = edges.derive_edges

    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return derive(spark, sf_dir)

    monkeypatch.setattr(edges, "derive_edges", counted)
    assert graph_condensation_dag(spark, SF_SMOKE).count() > 0
    assert len(calls) == 1
