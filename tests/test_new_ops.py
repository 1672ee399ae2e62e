"""Semantic ground-truth tests for the round-2 operator additions, beyond
the oracle parity every registered key already gets in
test_oracle_differential.py: brute-force / numpy references at smoke scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from flink_streaming_gnn_spark.graph.attention import (
    DIM,
    LEAK,
    OUT_DIMS,
    gat_weights,
    graph_gat_layer,
)
from flink_streaming_gnn_spark.graph.edges import derive_edges, derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.sampling import (
    FANOUT,
    graph_neighbor_sample,
    graph_negative_sample,
)
from flink_streaming_gnn_spark.operators.timeseries import cdc_latest_snapshot
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_neighbor_sample_is_bounded_subset(spark):
    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    sample = graph_neighbor_sample(spark, SF_SMOKE).toPandas()
    # subset of the real edge set
    for r in sample.itertuples():
        assert (int(r.neighbor), int(r.vertex)) in edges
    # fanout bound and dense ranks per vertex
    by_v = sample.groupby("vertex")
    assert (by_v.size() <= FANOUT).all()
    for _, grp in by_v:
        assert sorted(grp.sample_rank) == list(range(1, len(grp) + 1))
    # vertices with >= FANOUT in-neighbors keep exactly FANOUT
    from collections import Counter

    indeg = Counter(d for _, d in edges)
    for v, grp in by_v:
        assert len(grp) == min(FANOUT, indeg[v])


def test_negative_sample_disjoint_from_edges(spark):
    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    s_cnt = load_table(spark, SF_SMOKE, "supplier").count()
    neg = graph_negative_sample(spark, SF_SMOKE).toPandas()
    assert len(neg) > 0
    for r in neg.itertuples():
        assert (int(r.src), int(r.neg_dst)) not in edges
        assert 1 <= int(r.neg_dst) <= s_cnt


def test_gat_layer_matches_numpy(spark):
    a_src, a_dst = gat_weights()
    edges = (
        derive_vertex_embeddings(spark, SF_SMOKE)
        .distinct()
        .toPandas()
        .astype(int)
    )
    emb = load_table(spark, SF_SMOKE, "embeddings").toPandas()
    feats = {
        int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
        for r in emb.itertuples()
    }
    # numpy reference: additive attention + softmax per dst
    by_dst: dict[int, list[int]] = {}
    for r in edges.itertuples():
        by_dst.setdefault(int(r.dst_v), []).append(int(r.src_v))
    expected = {}
    for dst, srcs in by_dst.items():
        raw = np.array(
            [feats[s] @ a_src + feats[dst] @ a_dst for s in srcs]
        )
        score = np.where(raw > 0, raw, LEAK * raw)
        ex = np.exp(score - score.max())
        alpha = ex / ex.sum()
        h = (alpha[:, None] * np.stack([feats[s] for s in srcs])).sum(axis=0)
        expected[dst] = h[:OUT_DIMS]
    got = graph_gat_layer(spark, SF_SMOKE).toPandas()
    assert len(got) == len(expected)
    for r in got.itertuples():
        want = expected[int(r.vec_id)]
        have = np.array([getattr(r, f"h{i}") for i in range(1, OUT_DIMS + 1)])
        np.testing.assert_allclose(have, np.round(want, 4), atol=2e-4)


def test_kcore_matches_sequential_peel(spark):
    from flink_streaming_gnn_spark.graph.kcore import K, kcore_vertices
    from flink_streaming_gnn_spark.graph.edges import supplier_edges

    pairs = {
        (int(r.a), int(r.b)) for r in supplier_edges(spark, SF_SMOKE).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # sequential peel
    changed = True
    while changed:
        drop = [v for v, ns in adj.items() if len(ns) < K]
        changed = bool(drop)
        for v in drop:
            for o in adj.pop(v):
                adj[o].discard(v)
    got = {int(r.v): int(r.core_deg) for r in kcore_vertices(spark, SF_SMOKE).collect()}
    want = {v: len(ns) for v, ns in adj.items() if ns}
    assert got == want


def test_common_neighbors_matches_bruteforce(spark):
    from flink_streaming_gnn_spark.graph.linkpred import graph_common_neighbors

    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    nbrs: dict[int, set[int]] = {}
    for c, s in edges:
        nbrs.setdefault(s, set()).add(c)
    got = graph_common_neighbors(spark, SF_SMOKE).toPandas()
    for r in got.itertuples():
        a, b = int(r.a), int(r.b)
        common = len(nbrs[a] & nbrs[b])
        assert int(r.common) == common
        assert int(r.deg_a) == len(nbrs[a])
        assert int(r.deg_b) == len(nbrs[b])
        assert abs(r.jaccard - round(common / len(nbrs[a] | nbrs[b]), 6)) < 1e-9


def test_cdc_snapshot_matches_pandas(spark):
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    last = (
        ev.sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .tail(1)
    )
    want = last[last.event_type != "error"]
    got = cdc_latest_snapshot(spark, SF_SMOKE).toPandas()
    assert len(got) == len(want)
    merged = got.merge(
        want[["user_id", "event_type", "value"]], on="user_id", how="inner"
    )
    assert len(merged) == len(want)
    assert (merged.last_type == merged.event_type).all()
    assert np.allclose(merged.last_value, merged.value)


def test_bfs_levels_matches_python_bfs(spark):
    from collections import deque

    from flink_streaming_gnn_spark.graph.bfs import MAX_HOPS, graph_bfs_levels

    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    adj: dict[int, set[int]] = {}
    for c, s in edges:
        a, b = 2 * c, 2 * s + 1
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(v for v in adj if v % 100 == 0)
    dist = {v: 0 for v in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= MAX_HOPS:
            continue
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    got = {int(r.v): int(r.level) for r in graph_bfs_levels(spark, SF_SMOKE).collect()}
    assert got == dist


def test_dedup_cluster_canonical_properties(spark):
    from flink_streaming_gnn_spark.llm.dedup import dedup_cluster_canonical

    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    got = dedup_cluster_canonical(spark, SF_SMOKE).toPandas()
    # total mapping: one row per doc
    assert sorted(got.doc_id) == sorted(docs.doc_id)
    # survivor flag is exactly the fixpoint condition
    assert (got.is_survivor == (got.doc_id == got.canonical_id)).all()
    # canonical is the min doc_id of its cluster
    mins = got.groupby("canonical_id").doc_id.min()
    assert (mins.index == mins.values).all()
    # exact duplicate texts always land in the same cluster
    canon = dict(zip(got.doc_id, got.canonical_id))
    for _, grp in docs.groupby("text"):
        if len(grp) > 1:
            assert len({canon[d] for d in grp.doc_id}) == 1


def test_approx_quantile_rank_error_bound(spark):
    from flink_streaming_gnn_spark.operators.aggregates import agg_approx_quantile

    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    got = agg_approx_quantile(spark, SF_SMOKE).toPandas()
    for r in got.itertuples():
        vals = np.sort(ev[ev.event_type == r.event_type].value.values)
        n = len(vals)
        for q, a in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            # GK sketch with accuracy 10000 on n<=1000 values: rank error
            # < n/10000 < 1, i.e. the returned value is an exact element at
            # the target rank (up to the round(4) in the operator)
            rank = np.searchsorted(vals, a, side="left")
            assert abs(rank - q * n) <= max(2, 0.01 * n)


def test_ngram_lm_score_matches_python(spark):
    from collections import Counter

    from flink_streaming_gnn_spark.llm.textstats import text_ngram_lm_score

    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    heads: Counter = Counter()
    bigrams: Counter = Counter()
    doc_bgs = {}
    for r in docs.itertuples():
        w = r.text.split(" ")
        if len(w) < 2:
            continue
        bg = [(w[i], w[i + 1]) for i in range(len(w) - 1)]
        doc_bgs[int(r.doc_id)] = bg
        for h, t in bg:
            heads[h] += 1
            bigrams[(h, t)] += 1
    got = text_ngram_lm_score(spark, SF_SMOKE).toPandas()
    assert sorted(got.doc_id) == sorted(doc_bgs)
    for r in got.itertuples():
        bg = doc_bgs[int(r.doc_id)]
        avg = round(float(np.mean([np.log(bigrams[p] / heads[p[0]]) for p in bg])), 6)
        assert int(r.n_bigrams) == len(bg)
        assert abs(r.avg_logp - avg) < 1e-9
        assert abs(r.ppl - round(float(np.exp(-avg)), 4)) < 1e-9


def test_gapfill_resample_properties(spark):
    from flink_streaming_gnn_spark.operators.timeseries import ts_gapfill_resample

    got = ts_gapfill_resample(spark, SF_SMOKE).toPandas()
    got["day"] = pd.to_datetime(got.day)
    for _, grp in got.groupby("user_id"):
        grp = grp.sort_values("day").reset_index(drop=True)
        # calendar is contiguous across the user's span
        assert (grp.day.diff().dropna() == pd.Timedelta(days=1)).all()
        # span endpoints are observed days
        assert grp.iloc[0].n_events > 0 and grp.iloc[-1].n_events > 0
        # gap rows carry no same-day average; locf is always defined and
        # equals the last observed day's average
        assert grp[grp.n_events == 0].day_avg.isna().all()
        assert grp.locf_avg.notna().all()
        assert (grp.locf_avg == grp.day_avg.ffill()).all()


def test_salted_join_matches_plain(spark):
    from flink_streaming_gnn_spark.operators.skew import join_salted_skew

    li = load_table(spark, SF_SMOKE, "lineitem").toPandas()
    flag_avg = li.groupby("l_returnflag").l_extendedprice.mean()
    li = li.assign(dev=(li.l_extendedprice - li.l_returnflag.map(flag_avg)).abs())
    want = (
        li.groupby(["l_returnflag", "l_linestatus"])
        .agg(n_rows=("dev", "size"), avg_abs_dev=("dev", "mean"))
        .reset_index()
    )
    got = join_salted_skew(spark, SF_SMOKE).toPandas()
    m = got.merge(want, on=["l_returnflag", "l_linestatus"], suffixes=("", "_w"))
    assert len(m) == len(want) == len(got)
    assert (m.n_rows == m.n_rows_w).all()
    assert np.allclose(m.avg_abs_dev, m.avg_abs_dev_w.round(4))


def test_adamic_adar_matches_bruteforce(spark):
    from flink_streaming_gnn_spark.graph.linkpred import graph_adamic_adar

    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    nbrs: dict[int, set[int]] = {}
    cdeg: dict[int, int] = {}
    for c, s in edges:
        nbrs.setdefault(s, set()).add(c)
        cdeg[c] = cdeg.get(c, 0) + 1
    got = graph_adamic_adar(spark, SF_SMOKE).toPandas()
    for r in got.itertuples():
        shared = nbrs[int(r.a)] & nbrs[int(r.b)]
        assert int(r.common) == len(shared)
        aa = sum(1.0 / np.log(cdeg[c]) for c in shared)
        assert abs(r.aa - round(aa, 6)) < 1e-9


def test_label_propagation_matches_python(spark):
    from collections import Counter

    from flink_streaming_gnn_spark.graph.lpa import ROUNDS, graph_label_propagation

    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
    }
    adj: dict[int, set[int]] = {}
    for c, s in edges:
        a, b = 2 * c, 2 * s + 1
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {v: v for v in adj}
    for _ in range(ROUNDS):
        new = {}
        for v in adj:
            votes = Counter(lbl[n] for n in adj[v])
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lbl = new
    want = Counter(lbl.values())
    got = graph_label_propagation(spark, SF_SMOKE).toPandas()
    for r in got.itertuples():
        assert want[int(r.community)] == int(r.n_vertices)
    assert {int(c) for c in got.community} == {c for c, n in want.items() if n >= 2}


def test_hits_matches_numpy(spark):
    from flink_streaming_gnn_spark.graph.hits import ROUNDS, graph_hits

    edges = sorted(
        {
            (int(r.src), int(r.dst))
            for r in derive_edges(spark, SF_SMOKE).select("src", "dst").distinct().collect()
        }
    )
    custs = sorted({c for c, _ in edges})
    supps = sorted({s for _, s in edges})
    ci = {c: i for i, c in enumerate(custs)}
    si = {s: i for i, s in enumerate(supps)}
    A = np.zeros((len(custs), len(supps)))
    for c, s in edges:
        A[ci[c], si[s]] = 1.0
    h = np.ones(len(custs))
    for _ in range(ROUNDS):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    got = graph_hits(spark, SF_SMOKE).toPandas()
    hub = got[got.side == "hub"]
    auth = got[got.side == "authority"]
    for r in hub.itertuples():
        assert abs(r.score - round(float(h[ci[int(r.id)]]), 6)) < 2e-6
    for r in auth.itertuples():
        assert abs(r.score - round(float(a[si[int(r.id)]]), 6)) < 2e-6
    # ranks are dense and ordered by score desc within each side
    for grp in (hub, auth):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        ordered = grp.sort_values("rank").score.values
        assert all(ordered[i] >= ordered[i + 1] - 1e-12 for i in range(len(ordered) - 1))


def test_maybe_broadcast_gates_on_estimate(spark):
    """plans.hints.maybe_broadcast must hint small frames and leave large
    estimates unhinted (the round-1 scale fix: a forced hint overrides
    AQE demotion and OOMs at 100 TB)."""
    from flink_streaming_gnn_spark.plans.hints import maybe_broadcast

    small = load_table(spark, SF_SMOKE, "nation")
    hinted = maybe_broadcast(small)
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan  # hint applied under the threshold
    big = load_table(spark, SF_SMOKE, "lineitem")
    unhinted = maybe_broadcast(big, max_bytes=1)  # force the over-threshold path
    plan_big = unhinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan_big  # engine keeps strategy freedom


def test_maybe_broadcast_size_of_is_width_safe(spark):
    """A ``size_of`` proxy gates in its own bytes per row: a frame several
    times wider than its proxy must get no hint when the proxy alone is
    just under the gate, while a frame as narrow as the proxy still does."""
    from flink_streaming_gnn_spark.plans.hints import maybe_broadcast, plan_size_bytes

    nation = load_table(spark, SF_SMOKE, "nation")
    proxy = nation.select("n_nationkey")
    gate = plan_size_bytes(proxy) + 1
    narrow = nation.selectExpr("n_regionkey AS k")
    width = lambda df: df._jdf.schema().defaultSize()  # noqa: E731
    assert width(nation) >= 3 * width(proxy)  # key, name, region key

    def hinted(df):
        plan = maybe_broadcast(df, max_bytes=gate, size_of=proxy)
        return "ResolvedHint" in plan._jdf.queryExecution().analyzed().toString()

    assert hinted(narrow)
    assert not hinted(nation)
