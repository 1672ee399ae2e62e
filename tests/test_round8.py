"""Round-8 hardening tests.

1. `dedup_embedding_cosine_planted` — de-vacuates the base key's oracle
   row (VERDICT r7 "What's wrong" #1: 0 Spark rows = 0 oracle rows at
   sf0.01 proved nothing). The planted key must be non-empty at every
   fixture scale, with the planted structure exactly as documented.
2. Crash-recovery drill (VERDICT r7 "Next round" #5): the two flagship
   stateful streams killed after their first trigger and resumed from
   the checkpoint must reach the IDENTICAL final state as an
   uninterrupted drain, with exactly-once sink semantics across the
   restart (idempotent per-batch-id spool overwrite).
3. `source_rate_ingest` determinism (VERDICT r7 "Next round" #7).
"""

from __future__ import annotations

import math
import os
import tempfile
import time

import numpy as np
import pytest

from flink_streaming_gnn_spark.llm.dedup import (
    PLANT_CLONE_OFFSET,
    PLANT_PARITY_OFFSET,
    PLANT_SEED_MOD,
    dedup_embedding_cosine_planted,
)
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE

# global minimum of (1+t)/sqrt(1+3t) over t in [0,1], attained at t=1/3
_PARITY_COS_FLOOR = 2.0 * math.sqrt(2.0) / 3.0


@pytest.fixture(scope="module")
def planted(spark):
    return (
        dedup_embedding_cosine_planted(spark, SF_ORACLE)
        .toPandas()
        .sort_values(["group_a", "group_b"])
        .reset_index(drop=True)
    )


def test_planted_nonvacuous(spark, planted):
    """One self row AND one parity cross row per seed — non-empty by
    construction, unlike the base key's fixture-dependent output."""
    seeds = (
        load_table(spark, SF_ORACLE, "embeddings")
        .filter(f"vec_id % {PLANT_SEED_MOD} = 0")
        .select("vec_id")
        .toPandas()["vec_id"]
        .tolist()
    )
    assert len(seeds) >= 1
    for s in seeds:
        self_rows = planted[
            (planted.group_a == s) & (planted.group_b == s)
        ]
        assert len(self_rows) == 1, f"seed {s}: missing clone self row"
        assert self_rows.iloc[0]["n_a"] >= 2  # seed + exact clone
        cross = planted[
            (planted.group_a == s)
            & (planted.group_b == s + PLANT_PARITY_OFFSET)
        ]
        assert len(cross) == 1, f"seed {s}: missing parity cross row"


def test_planted_cross_cos_band(planted):
    """Parity cross pairs score (1+t)/sqrt(1+3t) ∈ [2√2/3, 1]; on real
    data (energy in both parities) strictly < 1 — a non-trivial cosine."""
    cross = planted[planted.group_a != planted.group_b]
    assert len(cross) >= 1
    parity_rows = cross[cross.group_b >= PLANT_PARITY_OFFSET]
    assert len(parity_rows) >= 1
    assert (parity_rows.cos >= round(_PARITY_COS_FLOOR, 4) - 1e-9).all()
    assert (parity_rows.cos <= 1.0).all()
    # the fixture's embeddings have energy at both parities → strictly < 1
    assert (parity_rows.cos < 1.0).all()


def test_planted_matches_brute_force(spark, planted):
    """Brute-force numpy parity on the planted corpus: exact group
    collapse + all-pairs double-precision cosine within label."""
    e = (
        load_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "label", "embedding")
        .toPandas()
    )
    rows = list(
        e.itertuples(index=False, name=None)
    )  # (vec_id, label, emb)
    plants = []
    for vid, lbl, emb in rows:
        if vid % PLANT_SEED_MOD == 0:
            plants.append((vid + PLANT_CLONE_OFFSET, lbl, emb))
            v = np.asarray(emb, dtype=np.float32).copy()
            v[0::2] = (v[0::2].astype(np.float64) * 2.0).astype(np.float32)
            plants.append((vid + PLANT_PARITY_OFFSET, lbl, v))
    corpus = rows + plants
    groups: dict[tuple, list[int]] = {}
    for vid, lbl, emb in corpus:
        key = (lbl, tuple(np.asarray(emb, dtype=np.float32).tolist()))
        groups.setdefault(key, []).append(vid)
    reps = [
        (min(ids), lbl, np.asarray(emb, dtype=np.float64), len(ids))
        for (lbl, emb), ids in groups.items()
    ]
    expected = set()
    for rep_id, _lbl, _v, n in reps:
        if n >= 2:
            expected.add((rep_id, rep_id))
    for i in range(len(reps)):
        for j in range(len(reps)):
            ra, la, va, _na = reps[i]
            rb, lb, vb, _nb = reps[j]
            if la != lb or ra >= rb:
                continue
            cos = float(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            if cos >= 0.9:
                expected.add((ra, rb))
    got = set(zip(planted.group_a.tolist(), planted.group_b.tolist()))
    assert got == expected


# ---------------------------------------------------------------------------
# Crash-recovery drill: stop after trigger 0, resume from the checkpoint.


def _run_one_trigger_then_stop(writer_start):
    """Start a processingTime-triggered stream (batch 0 fires
    immediately, batch 1 not for 100 s), wait for batch 0 to COMMIT
    (lastProgress posts after the commit), hard-stop. Returns nothing —
    the caller inspects the sink/checkpoint."""
    q = writer_start()
    deadline = time.time() + 120
    while q.lastProgress is None and time.time() < deadline:
        time.sleep(0.5)
    assert q.lastProgress is not None, "batch 0 never committed"
    q.stop()
    q.awaitTermination()


def test_scd2_crash_resume_identical(spark):
    """stream_scd2_e2e's machinery killed after trigger 0 and resumed
    from the checkpoint: closed-row spool AND state-store open tail must
    equal the uninterrupted run's, with every closed event_id emitted
    exactly once across the restart."""
    from pyspark.sql import functions as F

    from flink_streaming_gnn_spark.streaming.replay import (
        drain,
        events_stream,
        run_update_spooled_with_state,
    )
    from flink_streaming_gnn_spark.streaming.scd2 import scd2_state_machine
    from tests.conftest import SF_SMOKE

    def stream():
        return events_stream(spark, SF_SMOKE, files_per_trigger=2).select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            "event_type",
        )

    def read_opens(ckpt: str):
        return sorted(
            (r["user_id"], r["event_id"], r["event_type"], r["vf_us"])
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
        )

    with tempfile.TemporaryDirectory() as work:
        ckpt = os.path.join(work, "ckpt")
        spool = os.path.join(work, "spool")

        def sink(batch_df, batch_id):
            # idempotent per-batch-id target: a batch re-run after the
            # crash OVERWRITES its own output instead of double-appending
            # — the standard exactly-once foreachBatch discipline
            batch_df.write.mode("overwrite").parquet(
                os.path.join(spool, f"batch={batch_id}")
            )

        # phase 1: exactly one committed trigger, then hard stop
        _run_one_trigger_then_stop(
            lambda: scd2_state_machine(stream())
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 seconds")
            .start()
        )
        n_partial = spark.read.parquet(spool).count()

        # phase 2: resume from the same checkpoint, drain the rest
        drain(scd2_state_machine(stream()), "update", sink, ckpt)

        closed = spark.read.parquet(spool)
        closed_rows = sorted(
            (r["user_id"], r["event_id"], r["event_type"], r["vf_us"], r["vt_us"])
            for r in closed.select(
                "user_id", "event_id", "event_type", "vf_us", "vt_us"
            ).collect()
        )
        # exactly-once across the restart: event_id is unique per closed
        # interval, so any replay would surface as a duplicate
        ids = [r[1] for r in closed_rows]
        assert len(ids) == len(set(ids))
        opens_resumed = read_opens(ckpt)

    # uninterrupted reference run (fresh spool + kept checkpoint)
    ref_closed_df, ref_ckpt = run_update_spooled_with_state(
        scd2_state_machine(stream()), "scd2_r8_uninterrupted"
    )
    ref_closed = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["vf_us"], r["vt_us"])
        for r in ref_closed_df.select(
            "user_id", "event_id", "event_type", "vf_us", "vt_us"
        ).collect()
    )
    assert 0 < n_partial < len(ref_closed)  # phase 1 really was partial
    assert closed_rows == ref_closed  # resumed ≡ uninterrupted (closed)
    assert opens_resumed == read_opens(ref_ckpt)  # ... and (open tail)


def test_cc_crash_resume_identical(spark):
    """stream_cc_e2e's incremental state machinery killed after trigger 0
    and resumed: the final label summary must equal the uninterrupted
    registry key's. The drill's foreachBatch derives its prior state
    from DISK (latest committed version < batch_id), which is exactly
    what makes the resume correct: a re-run batch overwrites its own
    version directory and rebuilds from its true predecessor. The drill
    drives the registry key's own batch function
    (``graphcc.versioned_apply``)."""
    from pyspark.sql import functions as F

    from flink_streaming_gnn_spark.streaming.graphcc import (
        edges_stream,
        stream_cc_e2e,
        versioned_apply,
    )
    from flink_streaming_gnn_spark.streaming.replay import drain
    from tests.conftest import SF_SMOKE

    def summarize(labels):
        return sorted(
            (r["lbl"], r["n"])
            for r in labels.groupBy("lbl")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        )

    with tempfile.TemporaryDirectory() as work:
        ckpt = os.path.join(work, "ckpt")
        state_root = os.path.join(work, "state")
        os.makedirs(state_root)

        apply_batch = versioned_apply(state_root)

        _run_one_trigger_then_stop(
            lambda: edges_stream(spark, SF_SMOKE)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 seconds")
            .start()
        )
        versions_after_phase1 = sorted(os.listdir(state_root))

        drain(edges_stream(spark, SF_SMOKE), "append", apply_batch, ckpt)

        final_v = max(int(d[1:]) for d in os.listdir(state_root))
        assert f"v{final_v}" not in versions_after_phase1  # resume advanced
        resumed = summarize(
            spark.read.parquet(os.path.join(state_root, f"v{final_v}"))
        )

    reference = sorted(
        (r["component"], r["n_vertices"])
        for r in stream_cc_e2e(spark, SF_SMOKE)
        .select("component", "n_vertices")
        .collect()
    )
    assert resumed == reference


def test_source_rate_ingest_deterministic(spark):
    from flink_streaming_gnn_spark.streaming.sources import source_rate_ingest

    a = source_rate_ingest(spark, "ignored").toPandas()
    assert len(a) == 200
    assert sorted(a.event_id.tolist()) == list(range(200))
    # per-element str(), the driver-canon form (Series.astype(str) trims
    # midnight timestamps to date-only, which the driver does not)
    assert {str(v) for v in a.ts} == {"1970-01-01 00:00:00"}
    assert a.loc[a.event_id == 7, "event_type"].iloc[0] == "type_2"
    assert a.loc[a.event_id == 7, "value"].iloc[0] == 3.5
    assert a.loc[a.event_id == 7, "props"].iloc[0] == '{"seq":7}'
