"""Round-7 hardening tests (VERDICT r6 "Next round" #5/#6, ADVICE r6).

Two claims the corpus fixtures cannot exercise:

* the embedding-cosine candidate stage is memory-BOUNDED per task, not
  just blocked — a skewed cell raises an actionable error instead of
  losing an executor, and the bounded kernel is pair-exact vs brute
  force on a planted skewed fixture;
* the SCD2 open tail now comes from the STATE STORE itself (Spark 4
  `statestore` reader over the kept checkpoint) — pinned equal to the
  independent batch last-per-key reconstruction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


# --- dedup_embedding_cosine: bounded candidate kernel --------------------


def _skewed_block(seed=7, n=120, d=16):
    """One 'label cell' with heavy skew: a third of the rows are planted
    near-duplicates of a handful of base vectors (cos ≈ 0.95-1.0), the
    rest random (cos ≈ 0 at d=16 they can still collide — brute force is
    the referee either way)."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(5, d))
    rows = [base[i % 5] + rng.normal(scale=0.03, size=d) for i in range(n // 3)]
    rows += [rng.normal(size=d) for _ in range(n - n // 3)]
    x = np.asarray(rows, dtype=np.float64)
    ids = rng.permutation(n * 3)[:n].astype(np.int64)  # non-contiguous ids
    return ids, x


def test_gram_candidates_covers_brute_force_on_skewed_block():
    """The production contract: the float32 gram stage at threshold
    0.9 − 1e-4 must MISS NOTHING the exact float64 threshold 0.9 keeps
    (the JVM rescore then drops margin-band extras), and every extra it
    emits must sit inside the margin band — not be a random pair."""
    from flink_streaming_gnn_spark.llm.dedup import _gram_candidates

    ids, x = _skewed_block()
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
    got = _gram_candidates(pdf, 0.9 - 1e-4)
    got_pairs = {
        (min(a, b), max(a, b))
        for a, b in zip(got["vec_a"].tolist(), got["vec_b"].tolist())
    }
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cos = {(int(a), int(b)): float(xn[i] @ xn[j])
           for i, a in enumerate(ids) for j, b in enumerate(ids) if i < j}
    cos.update({(b, a): v for (a, b), v in list(cos.items())})
    want = {p for p, v in cos.items() if p[0] < p[1] and v >= 0.9}
    assert want <= got_pairs  # zero misses at the exact threshold
    for p in got_pairs - want:  # extras confined to the margin band
        assert cos[p] >= 0.9 - 2e-4, (p, cos[p])
    assert len(want) > 20  # the plant actually produced near-dup pairs


def test_gram_candidates_multi_slab_parity():
    """Force 1, several, and n slabs via the slab_scores seam — the slab
    offset arithmetic (`+ s`, `ia < ib` across slab boundaries) must
    give identical pairs in every geometry; also re-run with shuffled
    input row order to pin the sorted-contract determinism (this test's
    earlier form caught a dropped sort_values during the round-7 kernel
    refactor)."""
    from flink_streaming_gnn_spark.llm.dedup import _gram_candidates

    ids, x = _skewed_block(seed=11)
    n = len(ids)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
    key = lambda df: sorted(zip(df["vec_a"].tolist(), df["vec_b"].tolist()))
    one_slab = key(_gram_candidates(pdf, 0.9, slab_scores=n * n))
    for slab in (n * 7, n * 2, n, 1):  # ~18, 60, 120, 120 slabs at n=120
        assert key(_gram_candidates(pdf, 0.9, slab_scores=slab)) == one_slab
    shuffled = pdf.sample(frac=1.0, random_state=3)
    assert key(_gram_candidates(shuffled, 0.9, slab_scores=n * 7)) == one_slab


def test_gram_candidates_residency_guard_raises():
    from flink_streaming_gnn_spark.llm.dedup import _gram_candidates

    ids, x = _skewed_block(seed=3, n=64, d=16)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
    with pytest.raises(ValueError, match="residency bound.*blocking key"):
        _gram_candidates(pdf, 0.9, floats_bound=512)  # 64*16=1024 > 512
    # at exactly the bound it runs
    _gram_candidates(pdf, 0.9, floats_bound=1024)


def test_embedding_cosine_query_still_runs(spark):
    """End-to-end smoke after the kernel extraction: group contract
    columns, deterministic under a full re-build + re-run."""
    from flink_streaming_gnn_spark.llm.dedup import dedup_embedding_cosine

    first = dedup_embedding_cosine(spark, SF_SMOKE)
    assert first.columns == ["group_a", "group_b", "cos", "n_a", "n_b"]
    rows_a = sorted(map(tuple, first.collect()))
    rows_b = sorted(map(tuple, dedup_embedding_cosine(spark, SF_SMOKE).collect()))
    assert rows_a == rows_b


# --- stream_scd2_e2e: state-store readout of the open tail ----------------


def test_scd2_state_store_opens_equal_batch_reconstruction(spark):
    """The drain-time `statestore` readout must equal the independent
    batch last-per-key pass (max_by on exactly (us, event_id) — the
    state machine's lexsort key). This is the claim VERDICT r6 #6 asked
    to restore: the open intervals provably live in streaming state."""
    from pyspark.sql import functions as F

    from flink_streaming_gnn_spark.streaming.replay import (
        events_stream,
        run_update_spooled_with_state,
    )
    from flink_streaming_gnn_spark.streaming.scd2 import (
        scd2_open_rows_batch,
        scd2_state_machine,
    )

    stream = events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "event_type",
    )
    _closed, ckpt = run_update_spooled_with_state(
        scd2_state_machine(stream), "scd2_r7_state_test"
    )
    state_opens = {
        r["user_id"]: (r["event_id"], r["event_type"], r["vf_us"])
        for r in spark.read.format("statestore")
        .option("path", ckpt)
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.groupState.o_eid").alias("event_id"),
            F.col("value.groupState.o_et").alias("event_type"),
            F.col("value.groupState.o_us").alias("vf_us"),
        )
        .collect()
    }
    batch_opens = {
        r["user_id"]: (r["event_id"], r["event_type"], r["vf_us"])
        for r in scd2_open_rows_batch(spark, SF_SMOKE).collect()
    }
    assert state_opens == batch_opens
    assert len(state_opens) > 0


def test_scd2_e2e_matches_batch_twin_after_state_readout(spark):
    """Full-history regression after the opens-path change: streamed
    SCD2 (closed from the spool + opens from the state store) still
    equals the batch twin row-for-row."""
    from flink_streaming_gnn_spark.operators.seasonal import scd2_intervals
    from flink_streaming_gnn_spark.streaming.scd2 import stream_scd2_e2e

    streamed = {
        tuple(r) for r in stream_scd2_e2e(spark, SF_SMOKE).collect()
    }
    batch = {tuple(r) for r in scd2_intervals(spark, SF_SMOKE).collect()}
    assert streamed == batch


# --- property tests: the round-7 kernels under hypothesis ------------------


@pytest.mark.parametrize("seed", range(8))
def test_gram_candidates_margin_contract_random(seed):
    """Randomized margin-contract check, including degenerate inputs the
    planted fixture can't produce: empty blocks, single rows, exact
    clones, zero vectors (the 1e-30 norm guard maps them to cos 0), and
    slab geometries from 1 row to one-shot. Contract: float64-exact
    matches at 0.9 are a subset of the kernel's candidates at
    0.9 − 1e-4, and every extra candidate lies in the float32 margin
    band."""
    from flink_streaming_gnn_spark.llm.dedup import _gram_candidates

    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, 40))
    d = int(rng.integers(2, 9))
    rows = []
    for _ in range(n):
        kind = rng.integers(0, 4)
        if kind == 0 and rows:  # exact clone of an earlier row
            rows.append(rows[int(rng.integers(0, len(rows)))].copy())
        elif kind == 1:  # zero vector — exercises the norm guard
            rows.append(np.zeros(d))
        elif kind == 2 and rows:  # near-clone
            rows.append(rows[int(rng.integers(0, len(rows)))] + rng.normal(scale=0.01, size=d))
        else:
            rows.append(rng.normal(size=d))
    ids = rng.permutation(max(n * 2, 1))[:n].astype(np.int64)
    x = np.asarray(rows, dtype=np.float64).reshape(n, d)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
    slab = int(rng.choice([1, 3, max(n, 1), 1 << 25]))
    got = _gram_candidates(pdf, 0.9 - 1e-4, slab_scores=slab)
    got_pairs = set(zip(got["vec_a"].tolist(), got["vec_b"].tolist()))
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    xn = x / np.maximum(norms, 1e-30)
    cos = xn @ xn.T
    order = np.argsort(ids)
    exact, band = set(), {}
    for i in range(n):
        for j in range(i + 1, n):
            a, b = int(ids[order[i]]), int(ids[order[j]])
            c = float(cos[order[i], order[j]])
            band[(a, b)] = c
            if c >= 0.9:
                exact.add((a, b))
    assert exact <= got_pairs
    for p in got_pairs - exact:
        assert band[p] >= 0.9 - 2e-4, (p, band[p])


# --- attestation window: the round-7 deliverable ---------------------------


def test_r7_window_covers_all_pending_keys():
    """The driver records the first 50 registration-ordered keys; the
    round-7 deliverable is that ALL 23 never-attested keys (per the
    CORRECTNESS_r01..r06 artifacts) sit inside that window, rows-only
    keys last. Guards the window against any registry edit between now
    and the driver run."""
    import glob
    import json
    import os

    from flink_streaming_gnn_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    attested = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        attested.update(json.load(open(path)))
    queries = registry.all_queries()
    window = list(queries)[:50]
    pending = [k for k in queries if k not in attested]
    assert len(window) == 50
    missing = [k for k in pending if k not in window]
    assert missing == [], f"never-attested keys outside the window: {missing}"
    oracle = registry.all_oracle_sql()
    rows_only_positions = [i for i, k in enumerate(window) if k not in oracle]
    # rows-only keys are contiguous at the window tail (oracle-checkable
    # attestations never displaced by a weaker rows-only check)
    assert rows_only_positions == list(
        range(50 - len(rows_only_positions), 50)
    )
