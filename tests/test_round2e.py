"""Ground-truth tests for the round-2e additions: closeness centrality vs
a driver-side BFS brute force, the covariance matrix vs numpy.cov moments,
CUBE cell accounting vs independent group-by passes, blocked Levenshtein
matching vs a python brute force, linear interpolation vs straight-line
arithmetic, and the exactness of the bit-length log2 bucket.
"""

from __future__ import annotations

from collections import deque

import numpy as np
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.closeness import (
    MAX_HOPS,
    SEED_MOD,
    graph_closeness_centrality,
)
from flink_streaming_gnn_spark.graph.edges import (
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.graph.ops import graph_degree_distribution
from flink_streaming_gnn_spark.operators.fuzzy import (
    BLOCK_SPAN,
    MAX_DIST,
    fuzzy_match_levenshtein,
)
from flink_streaming_gnn_spark.operators.olap import agg_cube
from flink_streaming_gnn_spark.operators.timeseries import ts_linear_interpolate
from flink_streaming_gnn_spark.llm.embprep import emb_pca_covariance
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_closeness_matches_bfs_brute_force(spark):
    adj: dict[int, set[int]] = {}
    pairs = bipartite_pairs(derive_edges(spark, SF_SMOKE))
    for r in both_directions(pairs).collect():
        adj.setdefault(int(r.a), set()).add(int(r.b))
    seeds = [v for v in adj if v % SEED_MOD == 0]
    assert seeds, "fixture must contain at least one landmark seed"
    out = {int(r.s): r for r in graph_closeness_centrality(spark, SF_SMOKE).collect()}
    assert set(out) == set(seeds)
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] == MAX_HOPS:
                continue
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        reached = {v: d for v, d in dist.items() if d > 0}
        row = out[s]
        assert row.n_reached == len(reached)
        assert row.sum_dist == sum(reached.values())
        assert abs(row.closeness - len(reached) / sum(reached.values())) < 1e-6
        assert abs(row.harmonic - sum(1.0 / d for d in reached.values())) < 1e-6


def test_covariance_matches_numpy(spark):
    x = np.array(
        [
            r.embedding
            for r in load_table(spark, SF_SMOKE, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    # population covariance (divide by N), matching the operator's sp/n form
    expect = np.cov(x, rowvar=False, bias=True)
    got = {(int(r.i), int(r.j)): r.cov for r in emb_pca_covariance(spark, SF_SMOKE).collect()}
    d = x.shape[1]
    assert len(got) == d * (d + 1) // 2  # upper triangle incl. diagonal
    for (i, j), v in got.items():
        assert j >= i
        assert abs(v - expect[i, j]) < 1e-5
    # diagonal entries are variances — strictly positive on this fixture
    assert all(got[(i, i)] > 0 for i in range(d))


def test_cube_cells_match_independent_groupbys(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    cube = agg_cube(spark, SF_SMOKE).collect()
    by_gid: dict[int, list] = {}
    for r in cube:
        by_gid.setdefault(int(r.gid), []).append(r)
    # gid bit vector: bit set = column aggregated away (MSB = first col)
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3]
    assert len(grand) == 1
    assert grand[0].n == o.count()
    # gid=0: plain group-by on both columns
    plain = {
        (r.o_orderstatus, r.o_orderpriority): r.n
        for r in o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        (r.o_orderstatus, r.o_orderpriority): r.n for r in by_gid[0]
    }
    assert got == plain
    # every marginal's counts sum to the grand total
    for gid in (0, 1, 2):
        assert sum(r.n for r in by_gid[gid]) == grand[0].n


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_match_levenshtein_brute_force(spark):
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    ).collect()
    blocks: dict[tuple, list] = {}
    for r in cust:
        blocks.setdefault((r.c_nationkey, r.c_custkey // BLOCK_SPAN), []).append(r)
    expect = set()
    for members in blocks.values():
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                lo, hi = sorted((x, y), key=lambda r: r.c_custkey)
                d = _levenshtein(lo.c_name, hi.c_name)
                if d <= MAX_DIST:
                    expect.add((lo.c_custkey, hi.c_custkey, d))
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_match_levenshtein(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert expect, "fixture must yield at least one near-match pair"
    assert all(a < b for a, b, _ in got)


def test_linear_interpolate_straight_lines(spark):
    rows = ts_linear_interpolate(spark, SF_SMOKE).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    interpolated_gap_seen = False
    for series in by_user.values():
        series.sort(key=lambda r: r.day)
        # observed days pass through unchanged
        for r in series:
            if r.day_avg is not None:
                assert r.interp_avg == r.day_avg
        # each missing run is the straight line between its anchors
        i = 0
        while i < len(series):
            if series[i].day_avg is None:
                j = i
                while series[j].day_avg is None:
                    j += 1
                lo, hi = series[i - 1], series[j]  # span ends are observed
                n = j - i + 1
                for k in range(i, j):
                    frac = (k - i + 1) / n
                    want = lo.day_avg + (hi.day_avg - lo.day_avg) * frac
                    assert abs(series[k].interp_avg - want) < 1e-9
                    interpolated_gap_seen = True
                i = j
            else:
                i += 1
    assert interpolated_gap_seen, "fixture must contain at least one gap"


def test_degree_distribution_buckets_exact(spark):
    from flink_streaming_gnn_spark.graph.edges import derive_edges

    deg = (
        derive_edges(spark, SF_SMOKE)
        .groupBy("dst")
        .agg(F.countDistinct("src").alias("deg"))
        .collect()
    )
    expect: dict[int, list[int]] = {}
    for r in deg:
        expect.setdefault(int(r.deg).bit_length() - 1, []).append(int(r.deg))
    got = {int(r.bucket): r for r in graph_degree_distribution(spark, SF_SMOKE).collect()}
    assert set(got) == set(expect)
    for bucket, degs in expect.items():
        assert got[bucket].n_vertices == len(degs)
        assert got[bucket].min_deg == min(degs)
        assert got[bucket].max_deg == max(degs)
        # bucket is the exact bit-length floor(log2): 2^b <= deg < 2^(b+1)
        assert all(2**bucket <= d < 2 ** (bucket + 1) for d in degs)
