"""Spark jobs of one warm call of each key whose loop runs on
``plans/truncate.iterate``: a round is one checkpoint job chain with its
count observed on it, so an extra job per round shows up here.

Each loop runs at least two rounds on these inputs: SF_SMOKE for all
keys but k-core, whose 5-core at SF_SMOKE is stable after one round and
so reads a small graph that peels for two (``KCORE_EDGES``). k-truss runs
its distributed peel (``LOCAL_PEEL_EDGES = 0``): one round drops every
edge, the next confirms. A bound is the most jobs a warm call ran when
it was set (4 cores); a call varies by a job or two between runs.
"""

from __future__ import annotations

import pytest

from flink_streaming_gnn_spark import registry
from flink_streaming_gnn_spark.graph import kcore, ktruss
from tests.conftest import SF_SMOKE

# K6 on 0..5; 6 joins 0..3 and 7; 7 joins 6 and 0..2. 7 has degree 4
# and goes in round 1, which leaves 6 with degree 4 for round 2.
KCORE_EDGES = (
    [(i, j) for i in range(6) for j in range(i + 1, 6)]
    + [(i, 6) for i in range(4)]
    + [(i, 7) for i in range(3)]
    + [(6, 7)]
)

JOBS = {
    "graph_connected_components": 21,
    "graph_coreness_hindex": 20,
    "graph_kcore": 20,
    "graph_ktruss": 20,
    "graph_condensation_dag": 74,
    "graph_pagerank": 64,
    "graph_ppr_seeded": 64,
    "graph_katz_centrality": 48,
    "graph_eigenvector_centrality": 30,
    # one checkpoint per hop; at two per hop a warm call ran 27-28 jobs
    "graph_bfs_levels": 22,
}


@pytest.mark.parametrize("key", list(JOBS))
def test_warm_call_jobs(spark, monkeypatch, key):
    monkeypatch.setattr(ktruss, "LOCAL_PEEL_EDGES", 0)
    monkeypatch.setattr(
        kcore,
        "supplier_edges",
        lambda spark, sf_dir: spark.createDataFrame(KCORE_EDGES, "a long, b long"),
    )
    query = registry.all_queries()[key]
    query(spark, SF_SMOKE).collect()
    sc = spark.sparkContext
    group = f"iteration_jobs_{key}"
    sc.setJobGroup(group, "warm call job count")
    try:
        query(spark, SF_SMOKE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOBS[key], (key, jobs)
