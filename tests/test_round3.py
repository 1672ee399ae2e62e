"""Ground-truth tests for the round-3 additions: the BPE merge trainer vs
a from-scratch Python BPE, landmark betweenness vs a from-scratch Brandes,
CUSUM changepoints vs the textbook recurrence, the count-min sketch error
guarantee, and VARIANT path extraction vs Python's json module.

Every reference implementation here is independent of the Spark code path
(pure Python dict/list algorithms), per the round-2 testing standard.
"""

from __future__ import annotations

import json
from collections import defaultdict, deque

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.variantfns import fn_variant_json
from flink_streaming_gnn_spark.graph.betweenness import (
    MAX_D,
    N_LANDMARKS,
    SEED_MOD,
    graph_betweenness_landmark,
)
from flink_streaming_gnn_spark.graph.edges import (
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.llm.bpe import MERGES, tokenizer_bpe_train
from flink_streaming_gnn_spark.operators.anomaly import (
    CUSUM_H,
    CUSUM_SLACK,
    ts_cusum_changepoint,
)
from flink_streaming_gnn_spark.operators.sketches import (
    CMS_EPS,
    CMS_PROBES,
    agg_count_min_sketch,
)
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def _python_bpe(word_freq: dict[str, int], merges: int):
    """From-scratch BPE trainer: same corpus representation (space-joined
    chars), same argmax tiebreak (count desc, pair asc), same DOUBLE
    leftmost non-overlapping merge via str.replace (consecutive
    occurrences share a delimiter space; the second pass is the
    fixpoint — see llm/bpe.py module docstring)."""
    seqs = {" ".join(word): f for word, f in word_freq.items()}
    rules = []
    for rank in range(1, merges + 1):
        counts: dict[str, int] = defaultdict(int)
        for seq, f in seqs.items():
            toks = seq.split(" ")
            for i in range(len(toks) - 1):
                counts[toks[i] + " " + toks[i + 1]] += f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merged = pair.replace(" ", "")
        rules.append((rank, *pair.split(" "), merged, counts[pair]))
        new_seqs: dict[str, int] = defaultdict(int)
        for seq, f in seqs.items():
            ns = (
                (" " + seq + " ")
                .replace(f" {pair} ", f" {merged} ")
                .replace(f" {pair} ", f" {merged} ")
                .strip()
            )
            new_seqs[ns] += f
        seqs = dict(new_seqs)
    return rules


def test_bpe_vs_python_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    wf: dict[str, int] = defaultdict(int)
    for r in docs:
        for w in r.text.split(" "):
            if w:
                wf[w] += 1
    expect = _python_bpe(dict(wf), MERGES)
    got = [
        (int(r.merge_rank), r.left_tok, r.right_tok, r.merged, int(r.pair_freq))
        for r in tokenizer_bpe_train(spark, SF_SMOKE)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect
    assert len(got) == MERGES  # corpus is rich enough for all rounds


def _python_brandes(adj: dict[int, set[int]], seeds: list[int], max_d: int):
    """From-scratch depth-capped Brandes accumulation."""
    bc: dict[int, float] = defaultdict(float)
    reached: set[int] = set()
    for s in seeds:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_d:
                continue
            for w in sorted(adj.get(u, ())):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0.0
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        delta = {v: 0.0 for v in dist}
        for w in reversed(order):
            for u in adj.get(w, ()):
                if dist.get(u) == dist[w] - 1:
                    delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
        for v in dist:
            if v != s:
                bc[v] += delta[v]
                reached.add(v)
    return bc, reached


def test_betweenness_vs_python_brandes(spark):
    pairs = bipartite_pairs(derive_edges(spark, SF_ORACLE))
    edges = {(int(r.a), int(r.b)) for r in both_directions(pairs).collect()}
    adj: dict[int, set[int]] = defaultdict(set)
    verts = set()
    for a, b in edges:
        adj[a].add(b)
        verts.add(a)
        verts.add(b)
    seeds = sorted(v for v in verts if v % SEED_MOD == 0)[:N_LANDMARKS]
    assert seeds, "fixture must contain landmark seeds at this sf"
    bc, reached = _python_brandes(adj, seeds, MAX_D)
    got = {int(r.v): r.bc for r in graph_betweenness_landmark(spark, SF_ORACLE).collect()}
    assert set(got) == reached
    for v in reached:
        assert abs(got[v] - bc[v]) < 1e-4, (v, got[v], bc[v])


def test_cusum_vs_python_recurrence(spark):
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[int(r.user_id)].append(r)
    expect = {}
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        vals = [r.value for r in rs]
        n = len(vals)
        mu = sum(vals) / n
        var = sum((v - mu) ** 2 for v in vals) / (n - 1) if n > 1 else 0.0
        sd = var**0.5
        s_hi = s_lo = 0.0
        for r, v in zip(rs, vals):
            z = (v - mu) / sd
            s_hi = max(0.0, s_hi + z - CUSUM_SLACK)
            s_lo = max(0.0, s_lo - z - CUSUM_SLACK)
            if s_hi > CUSUM_H or s_lo > CUSUM_H:
                expect[(uid, int(r.event_id))] = (s_hi, s_lo)
    got = {
        (int(r.user_id), int(r.event_id)): (r.s_hi, r.s_lo)
        for r in ts_cusum_changepoint(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    for k, (hi, lo) in expect.items():
        assert abs(got[k][0] - round(hi, 4)) < 1e-3
        assert abs(got[k][1] - round(lo, 4)) < 1e-3


def test_count_min_sketch_error_guarantee(spark):
    ev = load_table(spark, SF_SMOKE, "events").select("event_type", "user_id")
    exact = {
        (r.event_type, int(r.user_id)): int(r.n)
        for r in ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n")).collect()
    }
    totals = defaultdict(int)
    for (et, _), n in exact.items():
        totals[et] += n
    total_all = sum(totals.values())
    got = agg_count_min_sketch(spark, SF_SMOKE).collect()
    assert {int(r.probe_user) for r in got} == set(CMS_PROBES)
    for r in got:
        truth_n = (
            sum(exact.get((et, int(r.probe_user)), 0) for et in totals)
            if r.event_type == "ALL"
            else exact.get((r.event_type, int(r.probe_user)), 0)
        )
        n_total = total_all if r.event_type == "ALL" else totals[r.event_type]
        assert r.est_count >= truth_n  # CMS never under-counts
        # one-sided bound holds w.p. >= conf; deterministic here at this eps
        assert r.est_count <= truth_n + max(1, int(CMS_EPS * n_total * 10))


def test_variant_vs_python_json(spark):
    rows = load_table(spark, SF_SMOKE, "events").select("event_type", "props").collect()
    agg: dict[str, list[int]] = defaultdict(list)
    for r in rows:
        agg[r.event_type].append(int(json.loads(r.props)["k"]))
    got = {r.et: r for r in fn_variant_json(spark, SF_SMOKE).collect()}
    assert set(got) == set(agg)
    for et, ks in agg.items():
        assert got[et].n_events == len(ks)
        assert got[et].sum_k == sum(ks)
        assert got[et].max_k == max(ks)
        assert got[et].n_distinct_k == len(set(ks))
