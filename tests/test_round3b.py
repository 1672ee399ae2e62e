"""Ground-truth tests for the round-3 second batch: Bloom-prefilter join
(no false negatives + real selectivity), eigenvector centrality vs a numpy
power iteration, Borůvka MSF vs a from-scratch union-find Kruskal, Gopher
quality rules vs a pure-Python recompute, and MAD outliers vs numpy.

Every reference implementation is independent of the Spark code path (pure
Python/numpy), per the round-2 testing standard. Oracle hash-matches are
covered automatically by tests/test_oracle_differential.py.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import derive_edges
from flink_streaming_gnn_spark.graph.eigenvector import eigenvector_scores
from flink_streaming_gnn_spark.graph.mst import (
    _simple_weighted_edges,
    graph_mst_boruvka,
)
from flink_streaming_gnn_spark.llm.gopher import (
    MIN_STOP,
    STOPWORDS,
    text_quality_gopher,
)
from flink_streaming_gnn_spark.operators.anomaly import (
    MAD_K,
    MAD_THRESH,
    ts_anomaly_mad,
)
from flink_streaming_gnn_spark.operators.bloom import (
    PRIORITY,
    bloom_might_contain,
    bloom_width,
    build_bloom_bitset,
)
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


# ---------------------------------------------------------------------------
# Bloom prefilter


def test_bloom_no_false_negatives_and_selective(spark):
    """Every true build-side key passes the filter (Bloom guarantees no
    false negatives), and the prefilter actually removes rows before the
    join (the reason the operator exists)."""
    orders = load_table(spark, SF_ORACLE, "orders")
    lineitem = load_table(spark, SF_ORACLE, "lineitem").select("l_orderkey")
    urgent = orders.filter(F.col("o_orderpriority") == PRIORITY).select("o_orderkey")
    m_bits = bloom_width(urgent.count())
    bitset = build_bloom_bitset(urgent, "o_orderkey", m_bits)

    # no false negatives: every lineitem row whose order IS urgent passes
    true_rows = lineitem.join(
        urgent, lineitem.l_orderkey == urgent.o_orderkey, "left_semi"
    )
    missed = true_rows.filter(
        ~bloom_might_contain(bitset, F.col("l_orderkey"))
    ).count()
    assert missed == 0

    # selectivity: the prefilter drops a real fraction of non-matching rows
    total = lineitem.count()
    passed = lineitem.filter(bloom_might_contain(bitset, F.col("l_orderkey"))).count()
    n_true = true_rows.count()
    assert n_true <= passed < total
    # false-positive pass-through stays small at this geometry (<5% of the
    # non-matching rows; the analytic bound at ~3k keys / 64Ki bits is <1%)
    assert (passed - n_true) <= 0.05 * (total - n_true)


def test_bloom_width_and_saturated_bitset(spark):
    """Regression for the ≈sf1 probe failure: a saturated bitset (every
    word all-ones) must stay typed array<bigint> (Python literal
    inference would type [-1, -1, ...] as int32 and break bit_get), and
    the width must scale with the build-side key count."""
    assert bloom_width(100) == 1 << 16
    assert bloom_width(30_000) == 1 << 19
    assert bloom_width(10**9) == 1 << 20  # capped
    n = (
        spark.range(100)
        .filter(bloom_might_contain([-1] * 1024, F.col("id")))
        .count()
    )
    assert n == 100  # all-ones bitset passes everything — and doesn't crash


# ---------------------------------------------------------------------------
# Eigenvector centrality vs numpy power iteration


def test_eigenvector_matches_numpy(spark):
    # FULL production round count (VERDICT r3 "Next round" #7): the DuckDB
    # oracle only ever sees the half-depth verify-scale plan, so this test
    # is the recorded check that exercises the full-depth fixpoint —
    # together with test_pagerank_matches_numpy_reference and
    # test_ppr_matches_numpy_reference (both already full-ROUNDS), all
    # three iteratives are numpy-pinned at production depth to 1e-9.
    from flink_streaming_gnn_spark.graph.eigenvector import ROUNDS as rounds

    sdf = eigenvector_scores(spark, SF_SMOKE, rounds=rounds)
    got = {r["v"]: r["x"] for r in sdf.collect()}
    sdf.unpersist()

    edges = (
        derive_edges(spark, SF_SMOKE)
        .select((F.col("src") * 2).alias("a"), (F.col("dst") * 2 + 1).alias("b"))
        .distinct()
        .collect()
    )
    pairs = {(r["a"], r["b"]) for r in edges}
    verts = sorted({v for p in pairs for v in p})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in pairs:
        A[idx[a], idx[b]] = 1.0
        A[idx[b], idx[a]] = 1.0
    x = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(rounds):
        y = A @ x
        x = y / np.linalg.norm(y)
    assert len(got) == n
    for v, i in idx.items():
        assert abs(got[v] - x[i]) < 1e-9


# ---------------------------------------------------------------------------
# Borůvka MSF vs union-find Kruskal under the same (w, a, b) total order


def _kruskal(edges: list[tuple[float, int, int]]):
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    total = 0.0
    picked = 0
    bottleneck = 0.0
    for w, a, b in sorted(edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            total += w
            picked += 1
            bottleneck = max(bottleneck, w)
    return picked, total, bottleneck


def test_mst_boruvka_matches_kruskal(spark):
    row = graph_mst_boruvka(spark, SF_ORACLE).first()

    edges = [
        (r["w"], r["a"], r["b"])
        for r in _simple_weighted_edges(spark, SF_ORACLE).collect()
    ]
    verts = {v for _, a, b in edges for v in (a, b)}
    picked, total, bottleneck = _kruskal(edges)

    assert row["n_vertices"] == len(verts)
    assert row["n_mst_edges"] == picked
    # structural invariant of any spanning forest
    assert row["n_mst_edges"] == row["n_vertices"] - row["n_components"]
    assert abs(row["total_weight"] - round(total, 2)) < 1e-6
    assert abs(row["bottleneck_weight"] - round(bottleneck, 2)) < 1e-6


def _round_half_up(x: float, nd: int) -> float:
    """Spark's F.round / DuckDB's round semantics (HALF_UP on the decimal
    shortest-repr), unlike Python's banker's round()."""
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# Gopher rules vs pure-Python recompute


def test_gopher_rules_match_python(spark):
    out = {r["doc_id"]: r for r in text_quality_gopher(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    assert len(out) == len(docs)
    n_keep = 0
    for d in docs:
        words = d["text"].split(" ")
        r = out[d["doc_id"]]
        assert r["n_words"] == len(words)
        mwl = (d["n_chars"] - (len(words) - 1)) / len(words)
        assert abs(r["mean_word_len"] - _round_half_up(mwl, 4)) < 1e-9
        stop = sum(1 for w in words if w in STOPWORDS)
        assert r["stop_hits"] == stop
        alpha = sum(1 for w in words if any(c.isalpha() for c in w)) / len(words)
        assert abs(r["alpha_frac"] - _round_half_up(alpha, 4)) < 1e-9
        if r["keep"]:
            n_keep += 1
            assert stop >= MIN_STOP
    # the synthetic corpus is clean prose-ish text: most docs should pass
    assert 0 < n_keep <= len(docs)


# ---------------------------------------------------------------------------
# MAD outliers vs numpy


def test_mad_outliers_match_numpy(spark):
    flagged = {
        (r["user_id"], r["event_id"]): r["mscore"]
        for r in ts_anomaly_mad(spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "value"
    ).collect()
    by_user: dict[int, list] = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(e)
    expected = {}
    for rows in by_user.values():
        vals = np.array([e["value"] for e in rows])
        med = float(np.median(vals))
        mad = float(np.median(np.abs(vals - med)))
        if mad <= 0:
            continue
        for e in rows:
            m = MAD_K * (e["value"] - med) / mad
            if abs(m) >= MAD_THRESH:
                expected[(e["user_id"], e["event_id"])] = _round_half_up(m, 3)
    assert flagged  # the fixture's heavy-tailed values do produce outliers
    assert flagged == expected


# ---------------------------------------------------------------------------
# Periodogram vs numpy recompute


def test_periodogram_matches_numpy(spark):
    from flink_streaming_gnn_spark.operators.spectral import (
        BASE_US,
        N_HARMONICS,
        PERIOD_S,
        ts_periodogram,
    )

    got = {r["user_id"]: r for r in ts_periodogram(spark, SF_SMOKE).collect()}
    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "value",
    ).collect()
    by_user: dict[int, list] = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(e)
    assert set(got) == set(by_user)
    for uid, rows in by_user.items():
        t = np.array([e["t_us"] - BASE_US for e in rows], dtype=np.float64)
        x = np.array([e["value"] for e in rows])
        n = len(rows)
        assert got[uid]["n"] == n
        for k in range(1, N_HARMONICS + 1):
            arg = t * (2.0 * np.pi * k / (PERIOD_S * 1e6))
            c = float(np.sum(x * np.cos(arg)))
            s = float(np.sum(x * np.sin(arg)))
            power = (c * c + s * s) / (n * n)
            assert abs(got[uid][f"power_k{k}"] - power) < 1e-3


# ---------------------------------------------------------------------------
# Exact decimal aggregation vs Python Decimal


def test_decimal_agg_matches_python_decimal(spark):
    from flink_streaming_gnn_spark.operators.aggregates import agg_decimal_exact

    got = {r["l_returnflag"]: r for r in agg_decimal_exact(spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    ).collect()
    sums: dict[str, Decimal] = {}
    dsum: dict[str, Decimal] = {}
    mx: dict[str, Decimal] = {}
    n: dict[str, int] = {}
    q2 = Decimal("0.01")
    for r in li:
        f = r["l_returnflag"]
        p = Decimal(repr(r["l_extendedprice"])).quantize(q2, rounding=ROUND_HALF_UP)
        d = Decimal(repr(r["l_discount"])).quantize(q2, rounding=ROUND_HALF_UP)
        sums[f] = sums.get(f, Decimal(0)) + p
        dsum[f] = dsum.get(f, Decimal(0)) + p * d
        mx[f] = max(mx.get(f, Decimal(0)), p)
        n[f] = n.get(f, 0) + 1
    assert set(got) == set(sums)
    for f in sums:
        # the key renders exact decimals as strings (pandas bridges would
        # degrade wide decimals to float64) — compare digit strings
        assert got[f]["sum_price"] == str(sums[f])
        assert got[f]["sum_discount_amt"] == str(dsum[f])
        assert got[f]["max_price"] == str(mx[f])
        assert got[f]["n"] == n[f]


# ---------------------------------------------------------------------------
# Bigram PMI vs Python Counter recompute


def test_bigram_pmi_matches_python(spark):
    import math
    from collections import Counter

    from flink_streaming_gnn_spark.llm.collocations import (
        MIN_PAIR,
        TOP_N,
        text_bigram_pmi,
    )

    got = [
        (r["w1"], r["w2"], r["pair_n"], r["pmi"])
        for r in text_bigram_pmi(spark, SF_SMOKE).collect()
    ]
    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    uni: Counter = Counter()
    big: Counter = Counter()
    for d in docs:
        toks = d["text"].split(" ")
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n1 = sum(uni.values())
    n2 = sum(big.values())
    scored = []
    for (w1, w2), c2 in big.items():
        if c2 < MIN_PAIR:
            continue
        pmi = math.log((c2 / n2) / ((uni[w1] / n1) * (uni[w2] / n1)))
        scored.append((w1, w2, c2, _round_half_up(pmi, 6)))
    scored.sort(key=lambda t: (-t[3], t[0], t[1]))
    assert got == scored[:TOP_N]
    assert len(got) == TOP_N  # corpus produces at least TOP_N collocations


# ---------------------------------------------------------------------------
# Coreness (h-index fixpoint) vs exact min-heap peeling


def test_coreness_matches_exact_peeling(spark):
    import heapq

    from flink_streaming_gnn_spark.graph.coreness import graph_coreness_hindex
    from flink_streaming_gnn_spark.graph.edges import bipartite_pairs, both_directions

    got = {
        r["v"]: r["coreness"]
        for r in graph_coreness_hindex(spark, SF_ORACLE).collect()
    }
    adj: dict[int, set] = {}
    pairs = bipartite_pairs(derive_edges(spark, SF_ORACLE))
    for r in both_directions(pairs).collect():
        adj.setdefault(r["a"], set()).add(r["b"])
    deg = {v: len(n) for v, n in adj.items()}
    core: dict[int, int] = {}
    removed: set = set()
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in removed or d != deg[v]:
            continue
        k = max(k, d)
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))
    assert got == core
    assert max(got.values()) > 1  # non-trivial hierarchy on the fixture


# ---------------------------------------------------------------------------
# Holt filter vs the textbook sequential recurrence on the zero-padded window


def test_holt_filter_matches_textbook_recurrence(spark):
    from flink_streaming_gnn_spark.operators.anomaly import (
        HOLT_ALPHA,
        HOLT_BETA,
        HOLT_K,
        ts_holt_filter,
    )

    got = {
        (r["user_id"], r["event_id"]): (r["level"], r["trend"])
        for r in ts_holt_filter(spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    by_user: dict[int, list] = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(e)
    for uid, rows in by_user.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        vals = [e["value"] for e in rows]
        for t, e in enumerate(rows):
            # textbook recurrence l=αx+(1−α)(l+b), b=β(l−l_prev)+(1−β)b
            # run from zero state over the zero-padded last-K window —
            # for a linear filter this equals the K-term truncated sum,
            # independently of the matrix-power weight derivation
            window = vals[max(0, t - HOLT_K + 1) : t + 1]
            window = [0.0] * (HOLT_K - len(window)) + window
            level = trend = 0.0
            for x in window:
                prev = level
                level = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (level + trend)
                trend = HOLT_BETA * (level - prev) + (1 - HOLT_BETA) * trend
            gl, gt = got[(uid, e["event_id"])]
            assert abs(gl - level) < 1e-3
            assert abs(gt - trend) < 1e-3


# ---------------------------------------------------------------------------
# Nearest as-of join vs brute-force Python


def test_asof_nearest_matches_bruteforce(spark):
    from flink_streaming_gnn_spark.operators.joins import (
        ASOF_TOL_US,
        join_asof_nearest,
    )

    got = {
        r["purchase_id"]: (r["click_id"], r["delta_us"])
        for r in join_asof_nearest(spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "user_id",
        "event_type",
    ).collect()
    purchases = [e for e in events if e["event_type"] == "purchase"]
    clicks_by_user: dict[int, list] = {}
    for e in events:
        if e["event_type"] == "click":
            clicks_by_user.setdefault(e["user_id"], []).append(e)
    expected = {}
    for p in purchases:
        best = None
        for c in clicks_by_user.get(p["user_id"], []):
            d = c["t_us"] - p["t_us"]
            if abs(d) > ASOF_TOL_US:
                continue
            key = (abs(d), c["t_us"], c["event_id"])
            if best is None or key < best[0]:
                best = (key, c["event_id"], d)
        if best is not None:
            expected[p["event_id"]] = (best[1], best[2])
    assert got == expected
    assert got  # fixture produces matches


# ---------------------------------------------------------------------------
# Lloyd k-means vs pure-numpy rounds (same seed, same rounding discipline)


def test_kmeans_matches_numpy_lloyd(spark):
    from flink_streaming_gnn_spark.llm.kmeans import (
        K_CLUSTERS,
        OUT_DIMS,
        ROUNDS,
        _init_centroids,
        ml_kmeans_lloyd,
    )

    got = {r["cluster"]: r for r in ml_kmeans_lloyd(spark, SF_SMOKE).collect()}

    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, SF_SMOKE, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    cents = _init_centroids().astype(np.float64)

    def assign(c):
        d2 = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1)  # ties → lowest cl, same as struct-min

    for _ in range(ROUNDS):
        a = assign(cents)
        new = cents.copy()
        for c in range(K_CLUSTERS):
            if (a == c).any():
                new[c] = np.array(
                    [_round_half_up(v, 6) for v in X[a == c].mean(axis=0)]
                )
        cents = new
    a = assign(cents)
    for c in range(K_CLUSTERS):
        assert got[c]["n"] == int((a == c).sum())
        for d in range(OUT_DIMS):
            assert abs(got[c][f"c{d + 1}"] - cents[c][d]) < 2e-6


# ---------------------------------------------------------------------------
# Higher moments vs numpy


def test_higher_moments_match_numpy(spark):
    from flink_streaming_gnn_spark.operators.olap import agg_higher_moments

    got = {r["event_type"]: r for r in agg_higher_moments(spark, SF_SMOKE).collect()}
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "value"
    ).collect()
    groups: dict[str, list] = {}
    for e in events:
        groups.setdefault(e["event_type"], []).append(e["value"])
    assert set(got) == set(groups)
    for t, vals in groups.items():
        x = np.array(vals)
        m2 = ((x - x.mean()) ** 2).mean()
        m3 = ((x - x.mean()) ** 3).mean()
        m4 = ((x - x.mean()) ** 4).mean()
        assert got[t]["n"] == len(vals)
        assert abs(got[t]["mean"] - x.mean()) < 1e-4
        assert abs(got[t]["m2"] - m2) < 1e-3
        assert abs(got[t]["skewness"] - m3 / m2**1.5) < 1e-4
        assert abs(got[t]["excess_kurtosis"] - (m4 / m2**2 - 3.0)) < 1e-4


# ---------------------------------------------------------------------------
# k-truss vs pure-Python support peeling


def test_ktruss_matches_python_peel(spark):
    from flink_streaming_gnn_spark.graph.ktruss import (
        KTRUSS_K,
        _canonical_edges,
        graph_ktruss,
    )

    got = {
        (r["a"], r["b"]): r["support"]
        for r in graph_ktruss(spark, SF_ORACLE).collect()
    }

    edges = {
        (r["a"], r["b"]) for r in _canonical_edges(spark, SF_ORACLE).collect()
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        drop = [
            (a, b) for a, b in edges if len(adj[a] & adj[b]) < KTRUSS_K - 2
        ]
        if not drop:
            break
        for a, b in drop:
            edges.discard((a, b))
            adj[a].discard(b)
            adj[b].discard(a)
    expected = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
    assert got == expected
    assert got  # K was chosen so the sf0.01 truss is non-empty
    # truss property: every surviving edge has support ≥ K−2 in the truss
    assert all(s >= KTRUSS_K - 2 for s in got.values())


# ---------------------------------------------------------------------------
# ZCA whitening vs direct numpy whitening


def test_whitening_matches_numpy_and_decorrelates(spark):
    """Since round 9 the operator whitens with the 6-dp-PINNED transform
    (``_pinned_whitening`` — the exact-oracle contract), so the numpy
    twin here applies the same pin; the decorrelation property holds to
    the pin's perturbation (~1e-3), and the mean is offset by
    W·(μ − μ₆) ~ 3e-5 rather than exactly zero."""
    from flink_streaming_gnn_spark.llm.embprep import (
        WHITEN_DIMS,
        _pinned_whitening,
        emb_whitening,
    )

    out = emb_whitening(spark, SF_SMOKE)
    got = {
        r["vec_id"]: [r[f"y{k + 1}"] for k in range(WHITEN_DIMS)]
        for r in out.collect()
    }

    raw = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in raw]
    X = np.array([r["embedding"] for r in raw], dtype=np.float64)
    mu = X.sum(axis=0) / len(X)
    cov = (X.T @ X) / len(X) - np.outer(mu, mu)
    w_rows, offsets = _pinned_whitening(mu, cov)
    Y = X @ w_rows.T - offsets

    # operator output is rounded to 6 dp → half-width 0.5e-6 plus the
    # engine-vs-numpy moment drift (≪ 1e-9)
    for i, vid in enumerate(ids):
        for k in range(WHITEN_DIMS):
            assert abs(got[vid][k] - Y[i, k]) < 1e-6

    # whitening property: the output coordinates are decorrelated with
    # unit variance (identity covariance sub-block) and near-zero mean
    Yg = np.array([got[v] for v in ids])
    c = np.cov(Yg, rowvar=False, bias=True)
    assert np.allclose(c, np.eye(WHITEN_DIMS), atol=1e-2)
    assert np.allclose(Yg.mean(axis=0), 0.0, atol=1e-4)
