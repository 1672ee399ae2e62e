"""Ground-truth tests for the late-round-2 additions: HLL sketch error
bounds + mergeability, the streaming time-decayed keyed memory
(batch≡stream over real replay), EWMA / rolling z-score vs pandas
references, and GIN vs a numpy forward.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.operators.sketches import agg_hll_sketch_rollup
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_hll_sketch_estimates_within_bound(spark):
    out = agg_hll_sketch_rollup(spark, SF_SMOKE).toPandas()
    per_type = out[out.event_type != "ALL"]
    assert len(per_type) > 0
    # default lgConfigK=12 → relative error ~1.6%/sqrt-ish; 5% is generous
    for r in per_type.itertuples():
        assert abs(r.est_users - r.exact_users) <= max(1, 0.05 * r.exact_users), (
            r.event_type,
            r.est_users,
            r.exact_users,
        )
    # union-merged estimate ≈ global exact distinct (mergeability)
    ev = load_table(spark, SF_SMOKE, "events")
    exact_all = ev.select("user_id").distinct().count()
    est_all = int(out[out.event_type == "ALL"].est_users.iloc[0])
    assert abs(est_all - exact_all) <= max(1, 0.05 * exact_all)


def test_decayed_sum_stream_equals_batch(spark):
    from flink_streaming_gnn_spark.streaming.replay import (
        events_stream,
        run_update_spooled,
    )
    from flink_streaming_gnn_spark.streaming.stateful import incremental_decayed_sum

    tau = 6 * 3600.0  # 6 hours
    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
        "user_id", "ts", "value"
    )
    out = run_update_spooled(
        incremental_decayed_sum(stream, "user_id", "value", "ts", tau),
        "decayed_stream",
    ).toPandas()
    # final emission per key = the row at the key's max last_ts (monotone);
    # equal last_ts within one batch can't happen across emissions, but a
    # ts-boundary split across files can emit twice at the same last_ts —
    # the later (larger) accumulator is the final state
    final = (
        out.sort_values(["last_ts_epoch", "decayed_sum"])
        .groupby("key", as_index=False)
        .last()
    )

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value").toPandas()
    for r in final.itertuples():
        rows = ev[ev.user_id == r.key]
        t_last = rows.ts.map(lambda t: t.timestamp()).max()
        expect = sum(
            v * math.exp(-(t_last - t.timestamp()) / tau)
            for t, v in zip(rows.ts, rows.value)
        )
        assert abs(expect - r.decayed_sum) <= 1e-9 * max(1.0, abs(expect)), (
            r.key,
            expect,
            r.decayed_sum,
        )


def test_ewma_matches_pandas(spark):
    from flink_streaming_gnn_spark.operators.anomaly import ALPHA, K, ts_ewma

    got = ts_ewma(spark, SF_SMOKE).toPandas()
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )

    def ewma_ref(vals):
        out = []
        for i in range(len(vals)):
            lo = max(0, i - K + 1)
            window = vals[lo : i + 1][::-1]  # newest first
            ws = [ALPHA * (1 - ALPHA) ** j for j in range(len(window))]
            out.append(sum(w * v for w, v in zip(ws, window)) / sum(ws))
        return out

    for uid, grp in ev.groupby("user_id"):
        ref = ewma_ref(list(grp.value))
        mine = (
            got[got.user_id == uid]
            .set_index("event_id")
            .loc[grp.event_id]
            .ewma.tolist()
        )
        assert np.allclose(mine, np.round(ref, 4), atol=1e-4), uid


def test_zscore_matches_pandas_rolling(spark):
    from flink_streaming_gnn_spark.operators.anomaly import (
        Z_MIN_N,
        Z_THRESH,
        Z_WIN,
        ts_anomaly_zscore,
    )

    got = ts_anomaly_zscore(spark, SF_SMOKE).toPandas()
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    flagged = set()
    for uid, grp in ev.groupby("user_id"):
        vals = grp.value.reset_index(drop=True)
        ids = grp.event_id.reset_index(drop=True)
        shifted = vals.shift(1)
        mu = shifted.rolling(Z_WIN, min_periods=1).mean()
        sd = shifted.rolling(Z_WIN, min_periods=2).std()
        n = shifted.rolling(Z_WIN, min_periods=1).count()
        for i in range(len(vals)):
            if n[i] >= Z_MIN_N and sd[i] and sd[i] > 0:
                z = (vals[i] - mu[i]) / sd[i]
                if abs(z) >= Z_THRESH:
                    flagged.add((uid, int(ids[i])))
    assert {(int(r.user_id), int(r.event_id)) for r in got.itertuples()} == flagged


def test_gin_layer_matches_numpy(spark):
    from flink_streaming_gnn_spark.graph.edges import derive_vertex_embeddings
    from flink_streaming_gnn_spark.graph.gin import EPS, gin_weights, graph_gin_layer

    got = graph_gin_layer(spark, SF_SMOKE).toPandas().set_index("vec_id").sort_index()
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    feats = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    edges = {
        (int(r.src_v), int(r.dst_v))
        for r in derive_vertex_embeddings(spark, SF_SMOKE).distinct().collect()
    }
    w1, w2 = gin_weights()
    for v in got.index:
        agg = (1.0 + EPS) * feats[v] + sum(
            (feats[u] for (u, d) in edges if d == v), np.zeros(64)
        )
        h = w2 @ np.maximum(w1 @ agg, 0.0)
        mine = got.loc[v, [f"h{j}" for j in range(1, 5)]].to_numpy(dtype=float)
        assert np.allclose(mine, np.round(h, 4), atol=2e-4), v


def test_katz_matches_numpy(spark):
    from flink_streaming_gnn_spark.graph.edges import derive_vertex_embeddings
    from flink_streaming_gnn_spark.graph.katz import ALPHA, ROUNDS, graph_katz_centrality

    got = (
        graph_katz_centrality(spark, SF_SMOKE)
        .toPandas()
        .set_index("vertex")
        .katz.sort_index()
    )
    edges = (
        derive_vertex_embeddings(spark, SF_SMOKE).distinct().toPandas()
    )
    verts = sorted(set(edges.src_v) | set(edges.dst_v))
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for r in edges.itertuples():
        A[idx[r.src_v], idx[r.dst_v]] = 1.0
    walk = np.ones(n)
    katz = np.zeros(n)
    for _ in range(ROUNDS):
        walk = ALPHA * (A.T @ walk)
        katz += walk
    for v in got.index:
        assert abs(got[v] - round(katz[idx[v]], 6)) <= 1e-5, (v, got[v], katz[idx[v]])
