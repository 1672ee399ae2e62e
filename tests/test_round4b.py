"""Round-4b operator invariants — independent ground truths for the CEP,
APPNP/GATv2, JL-projection, Hampel, and heavy-hitter keys (the sf0.01
oracle differential auto-covers hash equality; these pin the SEMANTICS
against from-scratch reimplementations: brute-force funnel chaining,
dense numpy propagation, pandas rolling windows, exact counting).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.appnp import (
    ALPHA,
    ROUNDS,
    TRACK_DIMS,
    gnn_appnp_propagate,
)
from flink_streaming_gnn_spark.graph.gatv2 import (
    LEAK,
    OUT_DIMS,
    PROJ,
    gatv2_weights,
    graph_gatv2_layer,
)
from flink_streaming_gnn_spark.llm.jl import OUT_DIM, emb_random_projection, jl_matrix
from flink_streaming_gnn_spark.operators.cep import (
    WINDOW_US,
    cep_pattern_vshape,
    cep_window_funnel,
)
from flink_streaming_gnn_spark.operators.heavyhitters import K, agg_heavy_hitters
from flink_streaming_gnn_spark.operators.robust import FRAME, HAMPEL_T, ts_hampel_filter
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _events_pdf(spark):
    return (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
        .toPandas()
    )


# ---------------------------------------------------------------------------
# operators/cep.py


def test_window_funnel_matches_bruteforce(spark):
    """Greedy earliest-next chaining vs a brute-force per-start scan over
    the raw event lists (independent formulation, no window functions)."""
    got = {
        r["user_id"]: (r["max_depth"], r["n_full"])
        for r in cep_window_funnel(spark, SF_SMOKE).collect()
    }
    pdf = _events_pdf(spark)
    pdf["us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    expect = {}
    for uid, g in pdf.groupby("user_id"):
        views = np.sort(g.loc[g.event_type == "view", "us"].values)
        clicks = np.sort(g.loc[g.event_type == "click", "us"].values)
        buys = np.sort(g.loc[g.event_type == "purchase", "us"].values)
        best, full = 1, 0
        for t1 in views:
            depth = 1
            nc = clicks[clicks > t1]
            if len(nc) and nc[0] <= t1 + WINDOW_US:
                depth = 2
                np_ = buys[buys > nc[0]]
                if len(np_) and np_[0] <= t1 + WINDOW_US:
                    depth = 3
                    full += 1
            best = max(best, depth)
        expect[uid] = (best, full)
    assert got == expect


def test_vshape_matches_pandas(spark):
    got = {
        r["user_id"]: r["n_matches"]
        for r in cep_pattern_vshape(spark, SF_SMOKE).collect()
    }
    pdf = _events_pdf(spark).sort_values(["user_id", "ts", "event_id"])
    expect: dict[int, int] = {}
    for uid, g in pdf.groupby("user_id"):
        v = g["value"].values
        n = sum(
            1
            for i in range(len(v) - 3)
            if v[i + 1] < v[i] and v[i + 2] < v[i + 1] and v[i + 3] > v[i + 2]
        )
        if n:
            expect[uid] = n
    assert got == expect


# ---------------------------------------------------------------------------
# streaming/cep.py — the funnel NFA's final state must equal the batch
# operator on the same fixture (replay-batching independence)


def test_stream_cep_funnel_equals_batch(spark):
    from flink_streaming_gnn_spark.streaming.cep import stream_cep_funnel_e2e

    got = {
        r["user_id"]: (r["max_depth"], r["n_full"])
        for r in stream_cep_funnel_e2e(spark, SF_SMOKE).collect()
    }
    want = {
        r["user_id"]: (r["max_depth"], r["n_full"])
        for r in cep_window_funnel(spark, SF_SMOKE).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# graph/appnp.py — dense numpy propagation with the same per-round rounding


def _dense_graph(spark, drop_self_loops: bool = True):
    from flink_streaming_gnn_spark.graph.edges import derive_vertex_embeddings

    e = derive_vertex_embeddings(spark, SF_SMOKE).distinct()
    if drop_self_loops:  # APPNP filters them (it adds its own); GATv2 keeps them
        e = e.filter(F.col("src_v") != F.col("dst_v"))
    e = e.toPandas()
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = emb["vec_id"].values
    idx = {v: i for i, v in enumerate(ids)}
    feats = np.array([np.asarray(x, dtype=np.float64) for x in emb["embedding"]])
    return e, ids, idx, feats


def test_appnp_matches_numpy(spark):
    e, ids, idx, feats = _dense_graph(spark)
    n = len(ids)
    A = np.zeros((n, n))
    for s, d in zip(e["src_v"], e["dst_v"]):
        A[idx[s], idx[d]] = 1.0
    np.fill_diagonal(A, 1.0)  # self-loops
    dhout = A.sum(axis=1) - np.diag(A) + 1  # dout(u)+1 (diag added above)
    dhin = A.sum(axis=0) - np.diag(A) + 1
    # rebuild exactly: dout counts real out-edges; the +1 self-loop is in A
    A_real = A.copy()
    np.fill_diagonal(A_real, 0.0)
    dhout = A_real.sum(axis=1) + 1
    dhin = A_real.sum(axis=0) + 1
    norm = A / np.sqrt(np.outer(dhout, dhin))  # includes self-loop entries
    h = np.round(feats[:, :TRACK_DIMS], 6)
    z = h.copy()
    for _ in range(ROUNDS):
        z = np.round((1 - ALPHA) * (norm.T @ z) + ALPHA * h, 6) + 0.0
    got = (
        gnn_appnp_propagate(spark, SF_SMOKE)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    want = z[[idx[v] for v in got["vec_id"]]]
    np.testing.assert_allclose(
        got[[f"z{i}" for i in range(1, TRACK_DIMS + 1)]].values, want, atol=2e-6
    )


def test_gatv2_matches_numpy(spark):
    e, ids, idx, feats = _dense_graph(spark, drop_self_loops=False)
    w_src, w_dst, a = gatv2_weights()
    s_proj = feats @ w_src.T  # (n, PROJ)
    d_proj = feats @ w_dst.T
    pairs = {(idx[s], idx[d]) for s, d in zip(e["src_v"], e["dst_v"])}
    got = {
        r["vec_id"]: [r[f"h{i}"] for i in range(1, OUT_DIMS + 1)]
        for r in graph_gatv2_layer(spark, SF_SMOKE).collect()
    }
    by_dst: dict[int, list[int]] = {}
    for s, d in pairs:
        by_dst.setdefault(d, []).append(s)
    for d, srcs in by_dst.items():
        pre = s_proj[srcs] + d_proj[d]  # (deg, PROJ)
        act = np.where(pre > 0, pre, LEAK * pre)
        scores = act @ a
        ex = np.exp(scores - scores.max())
        alpha = ex / ex.sum()
        h = alpha @ feats[srcs][:, :OUT_DIMS]
        np.testing.assert_allclose(got[ids[d]], np.round(h, 4), atol=2e-4)


# ---------------------------------------------------------------------------
# llm/jl.py


def test_jl_matches_numpy_and_preserves_distances(spark):
    got = (
        emb_random_projection(spark, SF_SMOKE)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    feats = np.array([np.asarray(x, dtype=np.float64) for x in emb["embedding"]])
    w = jl_matrix()
    want = feats @ w.T
    proj = got[[f"p{j}" for j in range(OUT_DIM)]].values
    np.testing.assert_allclose(proj, want, atol=2e-6)
    # JL property (sanity, loose): median pairwise-distance distortion small
    rng = np.random.RandomState(0)
    i = rng.randint(0, len(feats), 200)
    j = rng.randint(0, len(feats), 200)
    keep = i != j
    d_orig = np.linalg.norm(feats[i[keep]] - feats[j[keep]], axis=1)
    d_proj = np.linalg.norm(want[i[keep]] - want[j[keep]], axis=1)
    ratio = d_proj / d_orig
    assert 0.75 < np.median(ratio) < 1.25


# ---------------------------------------------------------------------------
# operators/robust.py — Hampel


def test_hampel_matches_pandas(spark):
    got = (
        ts_hampel_filter(spark, SF_SMOKE)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pdf = _events_pdf(spark).sort_values(["user_id", "ts", "event_id"])
    rows = []
    for uid, g in pdf.groupby("user_id"):
        v = g["value"].values
        for k in range(len(v)):
            frame = v[max(0, k - FRAME + 1) : k + 1]
            med = round(float(np.median(frame)), 6)
            mad = round(float(np.median(np.round(np.abs(frame - med), 6))), 6)
            out = round(abs(v[k] - med), 6) > round(HAMPEL_T * mad, 6)
            rows.append((g["event_id"].values[k], med, mad, bool(out)))
    want = pd.DataFrame(rows, columns=["event_id", "med", "mad", "out"]).sort_values(
        "event_id"
    ).reset_index(drop=True)
    np.testing.assert_allclose(got["roll_med"], want["med"], atol=1e-9)
    np.testing.assert_allclose(got["roll_mad"], want["mad"], atol=1e-9)
    assert (got["is_outlier"] == want["out"]).all()
    imputed = np.where(want["out"], want["med"], got["value"])
    np.testing.assert_allclose(got["filtered"], imputed, atol=1e-9)


# ---------------------------------------------------------------------------
# streaming/e2e.py — watermark-gated append: emitted set = closed windows,
# values = batch values, tail withheld


def test_stream_tumbling_append_semantics(spark):
    import pandas as pd

    from flink_streaming_gnn_spark.streaming.e2e import stream_tumbling_append_e2e
    from flink_streaming_gnn_spark.streaming.windows import stream_tumbling_window

    got = stream_tumbling_append_e2e(spark, SF_SMOKE).toPandas()
    batch = stream_tumbling_window(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").select("ts").toPandas()
    wm = ev["ts"].max() - pd.Timedelta(minutes=30)
    starts = pd.to_datetime(batch["window_start"])
    closed = batch[(starts + pd.Timedelta(hours=1)) <= wm]
    open_ = batch[(starts + pd.Timedelta(hours=1)) > wm]
    assert len(open_) > 0  # the fixture must actually exercise withholding
    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = closed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_like=True)


# ---------------------------------------------------------------------------
# streaming/joins.py — watermarked LEFT OUTER stream-stream join: matched
# pairs all emit; null rows exactly for unmatched purchases the final
# global watermark passed


def test_stream_outer_join_semantics(spark):
    import pandas as pd

    from flink_streaming_gnn_spark.streaming.joins import (
        BAND_MINUTES,
        stream_outer_join_e2e,
    )

    got = stream_outer_join_e2e(spark, SF_SMOKE).toPandas()
    evt = _events_pdf(spark)
    p = evt[evt.event_type == "purchase"]
    c = evt[evt.event_type == "click"]
    m = p.merge(c, on="user_id", suffixes=("_p", "_c"))
    m = m[
        (m.ts_c >= m.ts_p - pd.Timedelta(minutes=BAND_MINUTES))
        & (m.ts_c <= m.ts_p)
    ]
    wm = min(p.ts.max(), c.ts.max()) - pd.Timedelta(minutes=BAND_MINUTES)
    matched_ids = set(m.event_id_p)
    got_matched = got[got.c_id.notna()]
    got_nulls = got[got.c_id.isna()]
    assert set(zip(got_matched.p_id, got_matched.c_id.astype(int))) == set(
        zip(m.event_id_p, m.event_id_c)
    )
    want_nulls = set(p[(~p.event_id.isin(matched_ids)) & (p.ts < wm)].event_id)
    assert set(got_nulls.p_id) == want_nulls
    # the fixture must actually exercise withholding
    assert len(p[(~p.event_id.isin(matched_ids)) & (p.ts >= wm)]) > 0


# ---------------------------------------------------------------------------
# llm/nb.py — from-scratch Python multinomial NB parity


def test_nb_score_matches_python(spark):
    import math
    from collections import Counter, defaultdict

    from flink_streaming_gnn_spark.llm.nb import (
        SPLIT_MOD,
        TRAIN_PARTS,
        ml_nb_score,
    )

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .toPandas()
    )
    train = docs[docs.doc_id % SPLIT_MOD < TRAIN_PARTS]
    test = docs[docs.doc_id % SPLIT_MOD >= TRAIN_PARTS]
    cls_docs = Counter(train["lang"])
    n_docs = len(train)
    counts: dict[str, Counter] = defaultdict(Counter)
    vocab = set()
    for lang, text in zip(train["lang"], train["text"]):
        toks = text.split(" ")
        counts[lang].update(toks)
        vocab.update(toks)
    v = len(vocab)
    cnt_c = {c: sum(counts[c].values()) for c in cls_docs}
    want = {}
    for doc_id, text in zip(test["doc_id"], test["text"]):
        best = None
        for c in sorted(cls_docs):
            s = sum(
                math.log((counts[c].get(t, 0) + 1) / (cnt_c[c] + v))
                for t in text.split(" ")
            )
            s = round(s + math.log(cls_docs[c] / n_docs), 6)
            if best is None or s > best[1]:  # lang-asc iteration = tiebreak
                best = (c, s)
        want[doc_id] = best
    got = {
        r["doc_id"]: (r["pred_lang"], r["score"])
        for r in ml_nb_score(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) < 1e-5


# ---------------------------------------------------------------------------
# operators/seasonal.py — ts_decompose_ma pandas parity


def test_decompose_ma_matches_pandas(spark):
    from flink_streaming_gnn_spark.operators.seasonal import (
        MA_HALF,
        ts_decompose_ma,
    )

    got = ts_decompose_ma(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").select("ts").toPandas()
    hourly = (
        ev["ts"].dt.floor("h").value_counts().sort_index().rename("n").reset_index()
    )
    n = hourly["n"].astype(float)
    trend = n.rolling(2 * MA_HALF + 1, center=True).mean()
    detr = n - trend
    seasonal = detr.groupby(hourly["ts"].dt.hour).transform("mean")
    resid = detr - seasonal
    assert len(got) == len(hourly)
    np.testing.assert_allclose(got["n"], hourly["n"])
    np.testing.assert_allclose(got["trend"], np.round(trend, 4), atol=1e-9)
    np.testing.assert_allclose(got["seasonal"], np.round(seasonal, 4), atol=1e-9)
    np.testing.assert_allclose(got["residual"], np.round(resid, 4), atol=1e-9)


# ---------------------------------------------------------------------------
# llm/bpe.py — encode parity against a from-scratch Python BPE apply


def test_bpe_encode_matches_python(spark):
    from flink_streaming_gnn_spark.llm.bpe import (
        tokenizer_bpe_encode,
        tokenizer_bpe_train,
    )

    rules = [
        (r["left_tok"], r["right_tok"], r["merged"])
        for r in tokenizer_bpe_train(spark, SF_SMOKE).orderBy("merge_rank").collect()
    ]
    docs = (
        load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").toPandas()
    )

    def encode_word(word: str) -> list[str]:
        seq = " " + " ".join(word) + " "
        for left, right, merged in rules:
            for _ in range(2):  # double replace (llm/bpe.py docstring)
                seq = seq.replace(f" {left} {right} ", f" {merged} ")
        return seq.split()

    want = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = [w for w in text.split(" ") if w]
        toks = [encode_word(w) for w in words]
        n_tok = sum(len(t) for t in toks)
        n_chars = sum(len(x) for t in toks for x in t)
        want[doc_id] = (len(words), n_tok, n_chars / n_tok)
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["chars_per_token"])
        for r in tokenizer_bpe_encode(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][:2] == want[k][:2], (k, got[k], want[k])
        # engines round half-up, Python half-even: compare pre-rounding
        assert abs(got[k][2] - want[k][2]) < 6e-5, (k, got[k], want[k])


# ---------------------------------------------------------------------------
# operators/inequality.py — numpy Gini + Zipf parity


def test_gini_matches_numpy(spark):
    from flink_streaming_gnn_spark.operators.inequality import agg_gini_coefficient

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount")
        .toPandas()
    )
    li["rev"] = li.l_extendedprice * (1 - li.l_discount)
    rev = li.groupby("l_suppkey")["rev"].sum().sort_values().values
    n = len(rev)
    i = np.arange(1, n + 1, dtype=float)
    want = 2.0 * (i * rev).sum() / (n * rev.sum()) - (n + 1.0) / n
    row = agg_gini_coefficient(spark, SF_SMOKE).collect()[0]
    assert row["n_suppliers"] == n
    assert abs(row["gini"] - round(want, 6)) < 1e-6
    assert 0 <= row["gini"] <= 1


def test_zipf_fit_matches_numpy(spark):
    from collections import Counter

    from flink_streaming_gnn_spark.operators.inequality import text_zipf_fit

    docs = load_table(spark, SF_SMOKE, "documents").select("text").toPandas()
    cnt = Counter(t for x in docs["text"] for t in x.split(" ") if t)
    freqs = np.array(sorted(cnt.values(), reverse=True), dtype=float)
    lr = np.log(np.arange(1, len(freqs) + 1, dtype=float))
    lf = np.log(freqs)
    slope = np.polyfit(lr, lf, 1)[0]
    r2 = np.corrcoef(lr, lf)[0, 1] ** 2
    row = text_zipf_fit(spark, SF_SMOKE).collect()[0]
    assert row["vocab"] == len(freqs)
    assert abs(row["zipf_slope"] - slope) < 1e-4
    assert abs(row["zipf_r2"] - r2) < 1e-4
    assert row["zipf_slope"] < 0  # frequency decreases with rank


# ---------------------------------------------------------------------------
# llm/dedup.py — priority survivor consistency with the canonical clusters


def test_priority_survivor_consistent(spark):
    from flink_streaming_gnn_spark.llm.dedup import (
        dedup_cluster_canonical,
        dedup_priority_survivor,
    )

    canon = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_cluster_canonical(spark, SF_SMOKE).collect()
    }
    src = {
        r["doc_id"]: int(r["source"][3:])
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    got = dedup_priority_survivor(spark, SF_SMOKE).collect()
    assert {r["doc_id"] for r in got} == set(canon)
    for r in got:
        assert r["cluster_id"] == canon[r["doc_id"]]  # same clusters
    by_cluster: dict[int, list[int]] = {}
    for d, c in canon.items():
        by_cluster.setdefault(c, []).append(d)
    surv = {r["cluster_id"]: r["survivor_id"] for r in got}
    for c, members in by_cluster.items():
        want = min(members, key=lambda d: (src[d], d))
        assert surv[c] == want


# ---------------------------------------------------------------------------
# llm/binquant.py — numpy pack + hamming parity


def test_binary_hamming_matches_numpy(spark):
    from flink_streaming_gnn_spark.llm.binquant import (
        DIM,
        N_PROBES,
        TOP_K,
        simsearch_binary_hamming,
    )

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    feats = np.array([np.asarray(x, dtype=np.float64) for x in emb["embedding"]])
    bits = (feats > 0).astype(np.int64)  # strict: zeros/negatives → 0
    ids = emb["vec_id"].values
    got = {}
    for r in simsearch_binary_hamming(spark, SF_SMOKE).collect():
        got.setdefault(r["probe_id"], []).append((r["rank"], r["cand_id"], r["hamming"]))
    for pi in np.where(ids < N_PROBES)[0]:
        ham = np.abs(bits - bits[pi]).sum(axis=1)
        mask = ids != ids[pi]
        order = np.lexsort((ids[mask], ham[mask]))[:TOP_K]
        want = [
            (rk + 1, int(ids[mask][j]), int(ham[mask][j]))
            for rk, j in enumerate(order)
        ]
        assert sorted(got[ids[pi]]) == want


def test_url_canonicalize_matches_urllib(spark):
    from urllib.parse import parse_qsl, urlparse

    from flink_streaming_gnn_spark.functions.urlfns import fn_url_canonicalize

    rows = fn_url_canonicalize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:50]:
        u = urlparse(r["url"])
        host = u.hostname  # urllib lowercases and strips the port
        params = [
            f"{k}={v}" for k, v in parse_qsl(u.query) if not k.startswith("utm_")
        ]
        want = f"https://{host}{u.path.rstrip('/')}?" + "&".join(sorted(params))
        assert r["canonical"] == want, (r["url"], r["canonical"], want)
        assert r["host"] == host


# ---------------------------------------------------------------------------
# graph/richclub.py + operators/spectral.py round-4c invariants


def test_rich_club_matches_python(spark):
    from collections import Counter

    from flink_streaming_gnn_spark.graph.richclub import LADDER, graph_rich_club
    from flink_streaming_gnn_spark.graph.edges import bipartite_pairs, derive_edges

    e = bipartite_pairs(derive_edges(spark, SF_SMOKE)).toPandas()
    pairs = list(zip(e["a"].astype(int), e["b"].astype(int)))
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    got = {r["k"]: (r["n_nodes"], r["n_edges"], r["phi"]) for r in graph_rich_club(spark, SF_SMOKE).collect()}
    for k in LADDER:
        nodes = {v for v, d in deg.items() if d > k}
        ek = sum(1 for a, b in pairs if a in nodes and b in nodes)
        nk = len(nodes)
        phi = round(2.0 * ek / (nk * (nk - 1)), 6) if nk > 1 else None
        assert got[k][0] == nk and got[k][1] == ek
        if phi is None:
            assert got[k][2] is None
        else:
            assert abs(got[k][2] - phi) < 1e-9


def test_spectral_entropy_bounds(spark):
    import math

    from flink_streaming_gnn_spark.operators.spectral import (
        N_HARMONICS,
        ts_spectral_entropy,
    )

    rows = ts_spectral_entropy(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["spec_entropy"] is None:
            continue
        assert -1e-9 <= r["spec_entropy"] <= math.log(N_HARMONICS) + 1e-9
        assert -1e-9 <= r["spec_entropy_norm"] <= 1 + 1e-9
        assert 1 <= r["dominant_k"] <= N_HARMONICS


# ---------------------------------------------------------------------------
# llm/knnclf.py — numpy brute-force kNN classifier parity


def test_knn_classify_matches_numpy(spark):
    from flink_streaming_gnn_spark.llm.knnclf import (
        K_NEIGHBORS,
        N_PROBES,
        ml_knn_classify,
    )

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding", "label")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    feats = np.array([np.asarray(x, dtype=np.float64) for x in emb["embedding"]])
    feats = feats / np.linalg.norm(feats, axis=1, keepdims=True)
    is_probe = (emb["vec_id"] < N_PROBES).values
    p_idx = np.where(is_probe)[0]
    r_idx = np.where(~is_probe)[0]
    sims = feats[p_idx] @ feats[r_idx].T
    want = {}
    for row, pi in enumerate(p_idx):
        order = np.lexsort((emb["vec_id"].values[r_idx], -sims[row]))[:K_NEIGHBORS]
        nbr_labels = emb["label"].values[r_idx][order]
        from collections import Counter

        cnt = Counter(int(x) for x in nbr_labels)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[int(emb["vec_id"].values[pi])] = (
            best[0],
            best[1],
            best[0] == int(emb["label"].values[pi]),
        )
    got = {
        r["vec_id"]: (r["pred_label"], r["n_votes"], r["is_correct"])
        for r in ml_knn_classify(spark, SF_SMOKE).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# graph/condensation.py — from-scratch Tarjan + longest-path DP parity


def test_condensation_matches_python(spark):
    from flink_streaming_gnn_spark.graph.condensation import graph_condensation_dag
    from flink_streaming_gnn_spark.graph.edges import derive_vertex_embeddings

    e = (
        derive_vertex_embeddings(spark, SF_SMOKE)
        .distinct()
        .filter(F.col("src_v") != F.col("dst_v"))
        .toPandas()
    )
    adj: dict[int, list[int]] = {}
    verts = set()
    for s, d in zip(e["src_v"], e["dst_v"]):
        adj.setdefault(int(s), []).append(int(d))
        verts.update((int(s), int(d)))
    # iterative Tarjan
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on: set[int] = set()
    stack: list[int] = []
    comp: dict[int, int] = {}
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w_ = succs[i]
                if w_ not in index:
                    work[-1] = (v, i + 1)
                    work.append((w_, 0))
                    recurse = True
                    break
                if w_ in on:
                    low[v] = min(low[v], index[w_])
            if not recurse:
                work.pop()
                if low[v] == index[v]:
                    members = []
                    while True:
                        w_ = stack.pop()
                        on.discard(w_)
                        members.append(w_)
                        if w_ == v:
                            break
                    lab = min(members)
                    for m in members:
                        comp[m] = lab
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])

    for v in sorted(verts):
        if v not in index:
            strongconnect(v)
    cedges = {
        (comp[int(s)], comp[int(d)])
        for s, d in zip(e["src_v"], e["dst_v"])
        if comp[int(s)] != comp[int(d)]
    }
    comps = sorted(set(comp.values()))
    sizes = {c: 0 for c in comps}
    for v in verts:
        sizes[comp[v]] += 1
    level = {c: 0 for c in comps}
    for _ in range(len(comps)):  # DAG DP to fixpoint
        changed = False
        for a, b in cedges:
            if level[a] + 1 > level[b]:
                level[b] = level[a] + 1
                changed = True
        if not changed:
            break
    n_succ = {c: 0 for c in comps}
    for a, _b in cedges:
        n_succ[a] += 1
    got = {
        r["scc"]: (r["n_vertices"], r["level"], r["n_succ"])
        for r in graph_condensation_dag(spark, SF_SMOKE).collect()
    }
    want = {c: (sizes[c], level[c], n_succ[c]) for c in comps}
    assert got == want


# ---------------------------------------------------------------------------
# operators/heavyhitters.py


def test_heavy_hitters_exact(spark):
    """The MG-candidates + exact-recount pipeline must equal the plain
    exact computation (the superset guarantee makes the sketch invisible
    in the result)."""
    got = [(r["token"], r["cnt"]) for r in agg_heavy_hitters(spark, SF_SMOKE).collect()]
    toks = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .toPandas()["token"]
    )
    counts = toks.value_counts()
    thr = len(toks) / K
    want = sorted(
        ((t, int(c)) for t, c in counts.items() if c > thr),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == want
