"""Round-5 additions: BPE consecutive-merge fixpoint, RFM scale path,
TTL'd streaming dedup, watermark boundary-equality pin, betweenness
conf-scoping."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE  # noqa: F401


# ---------------------------------------------------------------------------
# llm/bpe.py — the ADVICE r4 medium item: consecutive occurrences of a
# merge pair share a delimiter space, so ONE non-overlapping replace
# misses every second occurrence; the double replace is the fixpoint.


def test_bpe_double_replace_merges_consecutive_pairs(spark):
    df = spark.createDataFrame([("banana",), ("anan",), ("nana",)], "word string")
    seq = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("word", "(.)", "$1 ")), F.lit(" ")
    )
    single = F.replace(seq, F.lit(" a n "), F.lit(" an "))
    double = F.replace(single, F.lit(" a n "), F.lit(" an "))
    rows = df.select(
        "word",
        F.split(F.trim(single), " ").alias("once"),
        F.split(F.trim(double), " ").alias("twice"),
    ).collect()
    got = {r["word"]: (r["once"], r["twice"]) for r in rows}
    # single pass demonstrably misses the second occurrence...
    assert got["banana"][0] == ["b", "an", "a", "n", "a"]
    # ...and the second pass is the canonical fixpoint
    assert got["banana"][1] == ["b", "an", "an", "a"]
    assert got["anan"][1] == ["an", "an"]
    assert got["nana"][1] == ["n", "an", "a"]


# ---------------------------------------------------------------------------
# operators/behavior.py — the distributed exact ntile must equal Spark's
# own global ntile on a tie-heavy frame (VERDICT r4 weak #1: no more
# single-reducer window; correctness must be bit-identical anyway).


def test_distributed_ntile_matches_global_ntile(spark):
    from pyspark.sql import Window

    from flink_streaming_gnn_spark.operators.behavior import (
        N_TILES,
        _exact_ntile_desc,
    )

    # 997 users, frequency drawn from 7 values (heavy ties straddling
    # every quartile boundary), deterministic
    rows = [(i, (i * 7919) % 7 + 1) for i in range(997)]
    df = spark.createDataFrame(rows, "user_id long, frequency long")
    want = {
        r["user_id"]: r["t"]
        for r in df.select(
            "user_id",
            F.ntile(N_TILES)
            .over(Window.orderBy(F.col("frequency").desc(), "user_id"))
            .cast("long")
            .alias("t"),
        ).collect()
    }
    got = {
        r["user_id"]: r["f_score"]
        for r in _exact_ntile_desc(df, "frequency", "f_score").collect()
    }
    assert got == want


def test_distributed_ntile_fewer_rows_than_tiles(spark):
    from flink_streaming_gnn_spark.operators.behavior import _exact_ntile_desc

    df = spark.createDataFrame([(1, 5), (2, 9)], "user_id long, frequency long")
    got = {
        r["user_id"]: r["s"]
        for r in _exact_ntile_desc(df, "frequency", "s").collect()
    }
    assert got == {2: 1, 1: 2}  # ntile with N < n assigns rank itself


# ---------------------------------------------------------------------------
# streaming/e2e.py — ADVICE r4: the append-mode oracle pins emission as
# window_end <= max(ts) - 30min. When max(ts) lands EXACTLY 30 min past
# an hour edge, the boundary window's end equals the final watermark —
# this test pins Spark's eviction behavior on that equality so the
# oracle's <= cannot silently disagree on some future fixture.


def test_append_watermark_boundary_equality(spark, tmp_path):
    import datetime as dt

    from flink_streaming_gnn_spark.streaming.e2e import (
        stream_tumbling_append_e2e,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 30, 0), 2, "click", 2.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 59, 59), 3, "view", 4.0, "{}"),
        # max ts exactly :30 past the 11:00 edge → watermark lands at
        # 11:00:00.000000, equal to the end of window [10:00, 11:00)
        (4, dt.datetime(2024, 1, 1, 11, 30, 0), 4, "view", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(sf + "/events.parquet")
    out = stream_tumbling_append_e2e(spark, sf).collect()
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in out}
    # the boundary window (end == final watermark) IS emitted — the
    # behavior the oracle's `<=` mirrors
    assert got == {
        ("2024-01-01 10:00:00", "click"): 2,
        ("2024-01-01 10:00:00", "view"): 1,
    }, got


# ---------------------------------------------------------------------------
# streaming/e2e.py — stream_dedup_ttl_e2e (dropDuplicatesWithinWatermark):
# the bounded-state dedup. Pins (a) duplicates within the TTL are dropped,
# (b) a duplicate arriving after the key's state aged out IS re-emitted —
# the state store is genuinely bounded, not an exact-state dedup in
# disguise — and (c) the registered key equals batch DISTINCT on the
# fixture.


def _ttl_dedup_sink(spark, tmp_path, rows):
    """Write one chunk file per row (ordered replay, one micro-batch per
    file) and drain dropDuplicatesWithinWatermark(30 min) to a sink."""
    import uuid

    from flink_streaming_gnn_spark.streaming.replay import run_append_spooled

    import glob
    import os
    import time

    chunk_dir = str(tmp_path / "chunks")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    seen: set[str] = set()
    base = int(time.time())
    for i, r in enumerate(rows):
        spark.createDataFrame([r], schema).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
        # pin replay order: the file source orders by mtime
        for p in glob.glob(os.path.join(chunk_dir, "part-*")):
            if p not in seen:
                seen.add(p)
                os.utime(p, (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .withWatermark("ts", "30 minutes")
        .select("ts", "user_id", "event_type")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    name = "ttl_" + uuid.uuid4().hex[:8]
    return run_append_spooled(stream, name).collect()


def test_ttl_dedup_drops_within_ttl(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=10), 7, "click", 1.0, "{}"),  # dup in TTL
        (3, t0 + dt.timedelta(minutes=20), 8, "view", 1.0, "{}"),
    ]
    out = _ttl_dedup_sink(spark, tmp_path, rows)
    keys = [(r["user_id"], r["event_type"]) for r in out]
    assert sorted(keys) == [(7, "click"), (8, "view")]


def test_ttl_dedup_reemits_after_state_expiry(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    # batch-per-row replay. Watermark for batch N = max event time
    # through batch N-1 minus the 30-min delay, and a batch's state
    # EVICTION happens after its dedup checks — so key 7 (expiry 10:30)
    # is evicted during batch 2 (wm = 11:30 - 30min = 11:00, advanced by
    # batch 1's 11:30 row), and the duplicate must arrive in batch 3 to
    # observe the re-emission. Exact-state dropDuplicates would emit
    # key 7 exactly once.
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=90), 9, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=95), 10, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=100), 7, "click", 1.0, "{}"),
    ]
    out = _ttl_dedup_sink(spark, tmp_path, rows)
    keys = sorted((r["user_id"], r["event_type"]) for r in out)
    assert keys == [(7, "click"), (7, "click"), (9, "view"), (10, "view")], keys


# ---------------------------------------------------------------------------
# graph/mst.py — the constant-bounded local tail must be invisible in
# the result: pure-distributed Borůvka (LOCAL_TAIL_EDGES = 0) and the
# default local-tail path produce the identical summary on the same
# fixture (both are the unique MSF under the strict (w, a, b) order).


def test_mst_local_tail_equals_distributed(spark, monkeypatch):
    from flink_streaming_gnn_spark.graph import mst

    with_tail = mst.mst_forest_summary(spark, SF_SMOKE).collect()[0]
    monkeypatch.setattr(mst, "LOCAL_TAIL_EDGES", 0)
    distributed = mst.mst_forest_summary(spark, SF_SMOKE).collect()[0]
    assert with_tail.asDict() == distributed.asDict()


# ---------------------------------------------------------------------------
# graph/ktruss.py — the constant-bounded local peel must equal the
# distributed round loop (same monotone fixpoint).


def test_ktruss_local_peel_equals_distributed(spark, monkeypatch):
    from flink_streaming_gnn_spark.graph import ktruss

    local = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss.graph_ktruss(spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(ktruss, "LOCAL_PEEL_EDGES", 0)
    dist = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss.graph_ktruss(spark, SF_SMOKE).collect()
    }
    assert local == dist


def test_ktruss_distributed_peel_reaches_empty(spark, monkeypatch):
    """A 5-clique has support 3 < K−2 on every edge: the first round
    removes all of them, and the next round observes its count on an
    empty support frame and returns it."""
    from flink_streaming_gnn_spark.graph import ktruss

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    monkeypatch.setattr(
        ktruss,
        "_canonical_edges",
        lambda spark, sf_dir: spark.createDataFrame(clique, "a long, b long"),
    )
    assert ktruss.graph_ktruss(spark, SF_SMOKE).collect() == []
    monkeypatch.setattr(ktruss, "LOCAL_PEEL_EDGES", 0)
    assert ktruss.graph_ktruss(spark, SF_SMOKE).collect() == []


# ---------------------------------------------------------------------------
# streaming/scd2.py — the streamed SCD2 history must equal the batch
# twin row-for-row (closed intervals are immutable facts; the final
# open record per user matches lead() = NULL).


def test_stream_scd2_equals_batch(spark):
    from flink_streaming_gnn_spark.operators.seasonal import scd2_intervals
    from flink_streaming_gnn_spark.streaming.scd2 import stream_scd2_e2e

    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    got = {
        key(r): (r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in stream_scd2_e2e(spark, SF_SMOKE).collect()
    }
    want = {
        key(r): (r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(spark, SF_SMOKE).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# graph/butterflies.py — wedge-identity census vs a from-scratch Python
# count over the same distinct bipartite edges.


def test_butterfly_count_vs_python(spark):
    from collections import defaultdict
    from itertools import combinations

    from flink_streaming_gnn_spark.graph.butterflies import (
        graph_butterfly_count,
    )
    from flink_streaming_gnn_spark.graph.edges import derive_edges

    edges = {
        (int(r.src), int(r.dst))
        for r in derive_edges(spark, SF_SMOKE).select("src", "dst").collect()
    }
    by_cust: dict[int, set[int]] = defaultdict(set)
    for c, s in edges:
        by_cust[c].add(s)
    m: dict[tuple[int, int], int] = defaultdict(int)
    for sups in by_cust.values():
        for a, b in combinations(sorted(sups), 2):
            m[(a, b)] += 1
    want_wedges = sum(m.values())
    want_pairs = len(m)
    want_bfly = sum(v * (v - 1) // 2 for v in m.values())
    row = graph_butterfly_count(spark, SF_SMOKE).collect()[0]
    assert (row.n_wedges, row.n_pairs, row.n_butterflies) == (
        want_wedges,
        want_pairs,
        want_bfly,
    )


# ---------------------------------------------------------------------------
# operators/drift.py — distributed-bucketed KS statistic vs a
# from-scratch Python ECDF computation.


def test_ks_drift_vs_python(spark):
    from flink_streaming_gnn_spark.operators.drift import (
        TYPE_A,
        TYPE_B,
        dq_ks_drift,
    )
    from flink_streaming_gnn_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r.value for r in rows if r.event_type == TYPE_A)
    b = sorted(r.value for r in rows if r.event_type == TYPE_B)
    grid = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in grid
    )
    got = dq_ks_drift(spark, SF_SMOKE).collect()[0]
    assert got.n_a == len(a) and got.n_b == len(b)
    assert abs(got.ks_stat - round(d, 6)) < 1e-9


# ---------------------------------------------------------------------------
# llm/unigram.py — the distributed EM must match a from-scratch pure
# Python unigram-LM trainer (same seed rule, same rounds, same per-round
# 6-dp M-step rounding — the round-8 exactness contract) with the piece
# SET matching exactly and probs matching to float-noise tolerance.


def test_unigram_train_vs_python(spark):
    from collections import defaultdict

    from flink_streaming_gnn_spark.llm.unigram import (
        EM_ROUNDS,
        PROB_DP,
        SEED_MAX_LEN,
        VOCAB_EXTRA,
        tokenizer_unigram_train,
    )
    from flink_streaming_gnn_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    wf: dict[str, int] = defaultdict(int)
    for r in docs:
        for w in r.text.split(" "):
            if w:
                wf[w] += 1
    # seed: substring counts, all single chars + top VOCAB_EXTRA multis
    cnt: dict[str, int] = defaultdict(int)
    for w, f in wf.items():
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + SEED_MAX_LEN) + 1):
                cnt[w[i:j]] += f
    chars = {p: c for p, c in cnt.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in cnt.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:VOCAB_EXTRA]
    seed = dict(chars)
    seed.update(dict(multis))
    total = sum(seed.values())
    vocab = {p: c / total for p, c in seed.items()}
    max_len = max(len(p) for p in vocab)
    for _ in range(EM_ROUNDS):
        acc: dict[str, float] = defaultdict(float)
        for w, f in wf.items():
            n = len(w)
            alpha = [0.0] * (n + 1)
            alpha[0] = 1.0
            for i in range(1, n + 1):
                alpha[i] = sum(
                    alpha[j] * vocab[w[j:i]]
                    for j in range(max(0, i - max_len), i)
                    if w[j:i] in vocab
                )
            beta = [0.0] * (n + 1)
            beta[n] = 1.0
            for i in range(n - 1, -1, -1):
                beta[i] = sum(
                    vocab[w[i:j]] * beta[j]
                    for j in range(i + 1, min(n, i + max_len) + 1)
                    if w[i:j] in vocab
                )
            z = alpha[n]
            if z == 0.0:
                continue
            for i in range(n):
                for j in range(i + 1, min(n, i + max_len) + 1):
                    if w[i:j] in vocab:
                        acc[w[i:j]] += f * alpha[i] * vocab[w[i:j]] * beta[j] / z
        tot = sum(acc.values())
        # the round-8 exactness contract: per-round 6-dp rounding, pieces
        # rounding to zero dropped (mirrors _em_round exactly)
        vocab = {
            p: round(v / tot, PROB_DP)
            for p, v in acc.items()
            if round(v / tot, PROB_DP) > 0
        }
    got = {
        r["piece"]: r["prob"]
        for r in tokenizer_unigram_train(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(vocab)
    for p in got:
        # both sides are 6-dp quantized; only summation-order noise at the
        # rounding step can differ, and only by one quantum
        assert abs(got[p] - vocab[p]) < 1.5e-6, (p, got[p], vocab[p])


# ---------------------------------------------------------------------------
# llm/containment.py — the prefix-filter candidate stage must miss
# nothing: compare against a brute-force all-pairs containment in Python.


def test_containment_vs_python_bruteforce(spark):
    # doc-level expansion (bounded fixture — the registered query is
    # group-level): every group row is expanded in Python through the
    # clone members taken from the raw texts, and the result must equal
    # an all-pairs brute force on the full directed doc-level pair list,
    # containment values included — pins the zero-miss prefix filter and
    # exact clone recovery
    from flink_streaming_gnn_spark.llm.containment import (
        CONT_DEN,
        CONT_NUM,
        dedup_containment,
    )
    from flink_streaming_gnn_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    sh = {}
    by_text: dict[str, list[int]] = {}
    for r in docs:
        toks = [t for t in r.text.split(" ")]
        if len(toks) < 3:
            continue
        sh[int(r.doc_id)] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        by_text.setdefault(r.text, []).append(int(r.doc_id))
    members = {min(ids): ids for ids in by_text.values()}
    want = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter * CONT_DEN >= CONT_NUM * len(sa):
                want[(a, b)] = round(inter / len(sa), 4)
    got = {}
    for r in dedup_containment(spark, SF_SMOKE).collect():
        for a in members[int(r.group_a)]:
            for b in members[int(r.group_b)]:
                if a != b:
                    assert (a, b) not in got, (a, b)  # each doc pair once
                    got[(a, b)] = r.containment
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_containment_group_contract_vs_python(spark):
    # the REGISTERED group-level contract: rows are representative pairs
    # + clone-group self rows; brute-force recomputed in Python from the
    # raw texts, and the group rows must expand to exactly the doc-level
    # pair list of the previous test (information preservation)
    from flink_streaming_gnn_spark.llm.containment import (
        CONT_DEN,
        CONT_NUM,
        dedup_containment,
    )
    from flink_streaming_gnn_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    by_text: dict[str, list[int]] = {}
    for r in docs:
        if len(r.text.split(" ")) < 3:
            continue
        by_text.setdefault(r.text, []).append(int(r.doc_id))
    groups = {min(ids): (txt, sorted(ids)) for txt, ids in by_text.items()}
    sh = {
        rep: {
            " ".join(t.split(" ")[i : i + 3])
            for i in range(len(t.split(" ")) - 2)
        }
        for rep, (t, _) in groups.items()
    }
    want = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter * CONT_DEN >= CONT_NUM * len(sa):
                want[(a, b)] = (
                    round(inter / len(sa), 4),
                    len(groups[a][1]),
                    len(groups[b][1]),
                )
    for rep, (_, ids) in groups.items():
        if len(ids) >= 2:
            want[(rep, rep)] = (1.0, len(ids), len(ids))
    got = {
        (int(r.group_a), int(r.group_b)): (r.containment, int(r.n_a), int(r.n_b))
        for r in dedup_containment(spark, SF_SMOKE).collect()
    }
    assert got == want

    # expansion identity: Σ cross n_a·n_b + Σ self n·(n−1) equals the
    # doc-level pair count — the group contract loses nothing
    n_doc_pairs = sum(
        na * nb if a != b else na * (na - 1) for (a, b), (_, na, nb) in got.items()
    )
    sh_doc = {}
    for r in docs:
        toks = r.text.split(" ")
        if len(toks) < 3:
            continue
        sh_doc[int(r.doc_id)] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    brute = sum(
        1
        for a, sa in sh_doc.items()
        for b, sb in sh_doc.items()
        if a != b and len(sa & sb) * CONT_DEN >= CONT_NUM * len(sa)
    )
    assert n_doc_pairs == brute
