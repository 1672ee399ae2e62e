"""Ground-truth tests for the round-2d additions: the SAGE max-pool
layer vs a numpy forward, bitmap distinct vs exact counts, range search
vs the brute scorer, temperature mixing invariants, and the
bucketed-join key's no-exchange physical plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import derive_vertex_embeddings
from flink_streaming_gnn_spark.graph.sagepool import (
    DIM,
    OUT_DIM,
    graph_sage_pool_layer,
    pool_weights,
)
from flink_streaming_gnn_spark.llm.pipeline import MIX_ALPHA, mix_temperature_sampling
from flink_streaming_gnn_spark.llm.simsearch import (
    COS_RANGE_THRESHOLD,
    simsearch_range_cosine,
)
from flink_streaming_gnn_spark.operators.bitmaps import agg_bitmap_distinct
from flink_streaming_gnn_spark.operators.bucketing import sink_bucketed_join
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_sage_pool_layer_matches_numpy(spark):
    w_self, w_pool = pool_weights()
    emb = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    e = {
        (int(r.src_v), int(r.dst_v))
        for r in derive_vertex_embeddings(spark, SF_SMOKE).collect()
        if r.src_v != r.dst_v
    }
    out = {int(r.vec_id): r for r in graph_sage_pool_layer(spark, SF_SMOKE).collect()}
    assert set(out) == set(emb)
    for v, x in emb.items():
        nbr_feats = [emb[u] for (u, d) in e if d == v and u in emb]
        m = np.max(nbr_feats, axis=0) if nbr_feats else np.zeros(DIM)
        h = np.maximum(0.0, w_self @ x + w_pool @ m)
        got = np.array([getattr(out[v], f"h{j}") for j in range(1, OUT_DIM + 1)])
        assert np.allclose(got, np.round(h, 4), atol=2e-4), (v, got, h)


def test_bitmap_distinct_exact(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    out = {r.event_type: r.n_distinct_users for r in agg_bitmap_distinct(spark, SF_SMOKE).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert out[t] == n
    assert out["__all__"] == ev.select("user_id").distinct().count()


def test_range_cosine_is_brute_force_subset(spark):
    rows = simsearch_range_cosine(spark, SF_SMOKE).collect()
    assert all(r.cos >= COS_RANGE_THRESHOLD for r in rows)
    assert all(r.probe_id != r.cand_id for r in rows)
    # spot-check one pair against a direct numpy cosine
    emb = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    for r in rows[:20]:
        a, b = emb[r.probe_id], emb[r.cand_id]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r.cos) < 1e-5


def test_temperature_mix_invariants(spark):
    rows = mix_temperature_sampling(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-4
    # α<1 flattens: small sources boosted above natural, large damped below
    smallest = min(rows, key=lambda r: r.src_tokens)
    largest = max(rows, key=lambda r: r.src_tokens)
    assert smallest.boost > 1.0 > largest.boost
    assert 0.0 < MIX_ALPHA < 1.0


def test_scc_matches_tarjan(spark):
    """graph_scc vs an iterative Tarjan on the collected edge list — the
    mutual-reachability closure must produce exactly the classic SCC
    partition (labels = min id per SCC)."""
    from flink_streaming_gnn_spark.graph.scc import scc_labels

    edges = [
        (int(r.src_v), int(r.dst_v))
        for r in derive_vertex_embeddings(spark, SF_SMOKE).distinct().collect()
        if r.src_v != r.dst_v
    ]
    verts = sorted({v for e in edges for v in e})
    adj: dict[int, list[int]] = {v: [] for v in verts}
    for a, b in edges:
        adj[a].append(b)
    # iterative Tarjan
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]
    for root in verts:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recursed = False
            for i in range(pi, len(adj[v])):
                w_ = adj[v][i]
                if w_ not in index:
                    work[-1] = (v, i + 1)
                    work.append((w_, 0))
                    recursed = True
                    break
                if w_ in on_stack:
                    low[v] = min(low[v], index[w_])
            if recursed:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w_ = stack.pop()
                    on_stack.discard(w_)
                    comp.append(w_)
                    if w_ == v:
                        break
                sccs.append(comp)
    expect = {v: min(comp) for comp in sccs for v in comp}
    got = {int(r.v): int(r.scc) for r in scc_labels(spark, SF_SMOKE).collect()}
    assert got == expect


def test_scc_fb_coloring_equals_closure(spark):
    """The closure-free 100 TB path (forward-backward coloring) must
    produce the identical SCC partition as the exact closure method."""
    from flink_streaming_gnn_spark.graph.scc import (
        directed_edges,
        scc_labels,
        scc_labels_fb,
    )

    a = {(int(r.v), int(r.scc)) for r in scc_labels(spark, SF_SMOKE).collect()}
    e = directed_edges(spark, SF_SMOKE).localCheckpoint()
    b = {(int(r.v), int(r.scc)) for r in scc_labels_fb(e).collect()}
    assert a == b and len(a) > 0


def test_ppm_decode_parses_real_ppm_bytes():
    """The parser must handle an arbitrary hand-written P6 file — comments,
    multi-digit dims, exact pixel recovery — not just the synthetic camera."""
    from flink_streaming_gnn_spark.llm.multimodal import ppm_decode

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)  # h=2, w=3
    blob = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    img = ppm_decode(blob)
    assert img.shape == (2, 3, 3)
    assert (img == px).all()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ppm_decode(b"P5\n3 2\n255\n" + bytes(6))  # greyscale PGM rejected


def test_wav_decode_parses_real_riff_bytes():
    """The RIFF parser must walk arbitrary chunk layouts — unknown chunks
    skipped, word alignment honored — and recover exact PCM samples."""
    import struct

    from flink_streaming_gnn_spark.llm.multimodal import wav_decode

    pcm = np.array([0, 1000, -1000, 32767, -32768], dtype="<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    junk = b"\x01\x02\x03"  # odd-sized chunk exercises word alignment
    blob = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rate, samples = wav_decode(blob)
    assert rate == 8000
    assert (samples == pcm).all()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        wav_decode(b"OggS" + bytes(40))


def test_bucketed_join_key_plan_has_no_join_exchange(spark):
    df = sink_bucketed_join(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the final groupBy(supplier) legitimately shuffles once; the join
    # itself must read the bucketed layout without an exchange under it
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert join_part  # plan rendered
