"""Iterative kernels run to their fixpoint, whatever its depth: each
graph below needs more rounds than the round caps these loops once had
(condensation: 12 peels, k-core: 30 rounds, coreness: 60 rounds), and a
capped loop returned its unfinished state without a word. The loops run
on ``truncate.iterate``, whose stop rule is pinned on tiny frames first.
Their DuckDB twins are unrolled to a fixed depth by ``truncate.unroll``,
and a twin unrolled too shallow raises instead of returning rows."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph import components, coreness, kcore, ktruss, mst
from flink_streaming_gnn_spark.plans.truncate import iterate
from tests.conftest import SF_SMOKE


def _countdown(spark, calls, tag=True):
    """A step that lowers every value by one, down to 0, and tags the
    count of values still above 0: from [3, 1] it stops after round 3."""

    def step(state, observe):
        calls.append(1)
        out = state.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))
        return observe(out, F.count_if(F.col("x") > 0)) if tag else out

    return spark.createDataFrame([(3,), (1,)], "x long"), step


def test_iterate_stops_at_first_zero_count(spark):
    calls = []
    state, step = _countdown(spark, calls)
    assert sorted(r["x"] for r in iterate(state, step).collect()) == [0, 0]
    assert len(calls) == 3


def test_iterate_fixed_rounds_run_one_checkpoint_job_each(spark):
    sc = spark.sparkContext
    state = spark.range(4).select(F.col("id").alias("x"))

    def step(s, observe):
        return s.select((F.col("x") + 1).alias("x"))

    sc.setJobGroup("iterate_fixed_rounds", "iterate job count")
    try:
        out = iterate(state, step, 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("iterate_fixed_rounds")) == 5
    assert sorted(r["x"] for r in out.collect()) == [5, 6, 7, 8]


def test_iterate_tagged_count_stops_before_round_cap(spark):
    calls = []
    state, step = _countdown(spark, calls)
    iterate(state, step, rounds=10)
    assert len(calls) == 3


def test_iterate_uncapped_step_must_observe(spark):
    state, step = _countdown(spark, [], tag=False)
    with pytest.raises(ValueError):
        iterate(state, step)


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


@pytest.fixture(scope="module")
def path_duck():
    """The 130-vertex path c0 – s0 – c1 – s1 – … – c64 – s64 as DuckDB
    tables: order i is customer i's and holds lineitems of suppliers i − 1
    and i, each edge with its own weight. Its supplier projection is the
    65-vertex path s0 – … – s64, and its mod-500 projection the path
    0 – … – 64 (the c_i – s_i edges fold into self-loops)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT range AS o_orderkey, range AS o_custkey FROM range(65)"
    )
    con.execute("""
        CREATE TABLE lineitem AS
        SELECT o_orderkey AS l_orderkey, o_orderkey - d AS l_suppkey,
               CAST(2 * o_orderkey + d AS DOUBLE) AS l_extendedprice,
               DATE '2024-01-01' AS l_shipdate
        FROM orders, (VALUES (0), (1)) t(d)
        WHERE o_orderkey - d >= 0
    """)
    yield con
    con.close()


@pytest.mark.parametrize(
    "twin",
    [
        lambda: components._cc_oracle_sql(),
        lambda: kcore._kcore_oracle_sql(k=2),
        lambda: coreness._coreness_oracle_sql(),
        lambda: ktruss._ktruss_oracle_sql(rounds=1),
        lambda: mst._mst_oracle_sql(rounds=1),
        lambda: mst._mst_oracle_sql(cc_iters=1),
    ],
    ids=["cc", "kcore", "coreness", "ktruss", "mst_boruvka", "mst_forest_cc"],
)
def test_fixpoint_twin_unrolled_too_shallow_raises(path_duck, twin):
    """Each twin is unrolled short of its fixpoint on the path: CC needs
    about 130 rounds, 2-core peeling 33 and coreness 65, one k-truss
    round drops every edge, and one Borůvka round or one forest-CC round
    leaves work undone. The guard sees the last round differ from the one
    before it and DuckDB raises instead of returning the unfinished state."""
    with pytest.raises(duckdb.InvalidInputException, match="oracle not converged"):
        path_duck.execute(twin()).fetchall()
