#!/usr/bin/env python
"""Round-10 scale probes (VERDICT r9 "Next round" #2 and #3).

Modes:

  --batch-soak [xN]   the BATCH twin of the streaming soak: run every
                  iterative graph/LLM kernel SEQUENTIALLY in ONE JVM
                  against the ×10 blown corpus (default) and print each
                  key's wall + persistent-RDD count + post-GC driver
                  heap. Done-condition for the round-10 E7 sweep
                  (kernel-exit gc.collect() across all iterative
                  kernels): the persistent-RDD count returns to ~0 and
                  the heap to a low plateau after EVERY key — no
                  superseded localCheckpoint block sets accumulating
                  across a multi-query session.
  --x1000-stream K [K…]  the ×1000 ladder rung under a DISK BUDGET
                  (VERDICT r9 #3): purge this round's ×10/×100 scratch
                  first, build the ×1000 events table with zstd parquet
                  (disk-bound path — compression pays here, unlike the
                  page-cache shuffle E3 measured), then run each key in
                  its own subprocess JVM with the heap readout.
                  Defaults to the SMALL-OUTPUT keys first.

Ledger discipline: stdout is the record — redirect to
tools/probe_r10_<mode>.log and commit the log. NEVER compare walls
against a prior round's recording (box swing ±15-50%); perf CLAIMS need
an interleaved tools/ab_probe.py run.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_r8 import _blown10, _jvm_heap_mb  # noqa: E402

# every kernel decorated with release_superseded_checkpoints this round,
# plus the two round-9 sites (components / stream_cc) for continuity —
# ordered cheap→expensive so an early failure still yields a ledger
BATCH_SOAK_KEYS = (
    "graph_bfs_levels",
    "graph_kcore",
    "graph_coreness_hindex",
    "graph_label_propagation",
    "graph_connected_components",
    "graph_condensation_dag",
    "graph_scc",
    "graph_katz_centrality",
    "graph_hits",
    "graph_eigenvector_centrality",
    "graph_ppr_seeded",
    "gnn_appnp_propagate",
    "graph_pagerank",
    "graph_closeness_centrality",
    "graph_betweenness_landmark",
    "graph_ktruss",
    "graph_mst_boruvka",
    "tokenizer_bpe_train",
    "tokenizer_unigram_train",
    "dedup_cluster_canonical",
)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def run_batch_soak(sf_dir: str | None) -> int:
    from flink_streaming_gnn_spark import registry
    from flink_streaming_gnn_spark.session import get_spark

    corpus = sf_dir or _blown10()
    print(f"batch soak corpus: {corpus}", flush=True)
    spark = get_spark("probe_r10_batch_soak")
    queries = registry.all_queries()
    failures = 0
    for key in BATCH_SOAK_KEYS:
        t0 = time.perf_counter()
        try:
            queries[key](spark, corpus).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            # Readout: JVM System.gc only — deliberately NO Python
            # gc.collect() here, the opposite of probe_r9's streaming
            # discipline. There the harness gc separated ordinary
            # uncollected garbage from structural retention; HERE the
            # uncollected py4j proxy cycles ARE the thing under test
            # (a real multi-query session never gc's between queries).
            # The kernel-exit release collects inside the kernel before
            # it returns, so the ledger stays clean; without it the
            # superseded checkpoint block sets pile up across keys and
            # the JVM gc cannot free them (py4j still pins them;
            # tools/probe_r10_batch_soak_before.log).
            spark.sparkContext._jvm.java.lang.System.gc()
            used, cap = _jvm_heap_mb(spark)
            print(
                f"{key}: {wall:.1f}s  persistentRDDs={_persistent_rdds(spark)}"
                f"  heap {used:.0f}/{cap:.0f} MiB",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — the ledger records
            failures += 1
            print(f"{key}: ERROR {str(exc)[:300]}", flush=True)
    return failures


# ×1000 rung under the sandbox disk budget: the round-9 attempt
# (tools/probe_r9_x1000_scd2.log) died at ENOSPC — 10⁹-row shuffle spill
# + event-sized spool + checkpoint exceeded ~52 GB free. Budgeting:
# purge orphaned probe scratch first, zstd parquet everywhere
# (session.py default since this round), and rung the SMALL-OUTPUT keys
# (state-store-sized results) before the event-sized ones.
X1000_KEYS_SMALL = (
    "stream_sliding_e2e",
    "stream_tumbling_append_e2e",
    "stream_dedup_e2e",
)

_PURGE_GLOBS = (
    "graft_events_chunks_*",
    "graft_gnn_edge_chunks_*",
    "graft_edge_chunks_*",
    # per-call stream spools, sinks, kept checkpoints and CC label
    # versions (sources/scratch.ephemeral_dir names)
    "graft_stream_*",
    "graft_cc_state_*",
    # leftovers of the pre-scratch stream drains from earlier rounds
    "stream_spool_*",
    "stream_cspool_*",
    "stream_ckpt_*",
    "cc_state_*",
    # pre-round-10 digest-keyed leftovers from earlier rounds' processes
    "events_chunks_*",
    "gnn_edge_chunks_*",
    "edge_chunks_*",
    "docs_*",
    "events_wire_*",
    "events_frag_*",
    "events_compact_*",
    "events_evolved_*",
    "zorder_layout_*",
    "sink_roundtrip_*",
    "graft_bucketed_wh_*",
)


def purge_scratch() -> None:
    import glob as _glob
    import shutil
    import tempfile

    freed = 0
    for pat in _PURGE_GLOBS:
        for p in _glob.glob(os.path.join(tempfile.gettempdir(), pat)):
            try:
                sz = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(p)
                    for f in fs
                )
            except OSError:
                sz = 0
            shutil.rmtree(p, ignore_errors=True)
            freed += sz
    print(f"purged orphaned scratch: {freed / (1 << 30):.1f} GiB", flush=True)


_X1000_CHILD = r"""
import gc, sys, time
repo, sf_dir = sys.argv[1], sys.argv[2]
keys = sys.argv[3:]
sys.path.insert(0, repo)
from flink_streaming_gnn_spark import registry
from flink_streaming_gnn_spark.session import get_spark
spark = get_spark("probe_r10_x1000")
qs = registry.all_queries()
for key in keys:
    t0 = time.perf_counter()
    try:
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        gc.collect()  # probe_r9 readout discipline: retention, not garbage
        spark.sparkContext._jvm.java.lang.System.gc()
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        used = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        cap = rt.maxMemory() / (1 << 20)
        print(f"{key}: {wall:.1f}s  heap {used:.0f}/{cap:.0f} MiB", flush=True)
    except Exception as exc:
        print(f"{key}: ERROR {str(exc)[:300]}", flush=True)
"""


def run_x1000_stream(keys: list[str]) -> int:
    """One child JVM runs ALL keys sequentially (the soak posture): the
    events re-chunking is per-process since round 10, so per-key child
    JVMs would each rebuild the ~10⁹-row chunk copy — one process builds
    it once and the single-JVM sequence is the stricter test anyway."""
    import subprocess
    import tempfile

    import probe_r9

    purge_scratch()
    merged = probe_r9.build_x1000_events()
    print(f"x1000 merged dir: {merged}", flush=True)
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "-c", _X1000_CHILD, REPO, merged, *keys],
        capture_output=True,
        text=True,
        cwd=tempfile.gettempdir(),  # foreign cwd, like the driver
    )
    print(out.stdout.strip(), flush=True)
    if out.returncode != 0:
        print(
            f"CHILD FAILED (exit {out.returncode},"
            f" {time.perf_counter() - t0:.1f}s)\n" + out.stderr.strip()[-800:],
            flush=True,
        )
    return out.returncode


_PROFILE_CHILD = r"""
import sys, threading, time
repo, sf_dir = sys.argv[1], sys.argv[2]
keys = sys.argv[3:]
sys.path.insert(0, repo)
from flink_streaming_gnn_spark import registry
from flink_streaming_gnn_spark.session import get_spark

def _cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = list(map(int, parts))
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals), idle

samples = []
stop = threading.Event()
def sampler():
    prev_t, prev_i = _cpu_times()
    while not stop.wait(1.0):
        t, i = _cpu_times()
        dt, di = t - prev_t, i - prev_i
        if dt > 0:
            samples.append(1.0 - di / dt)
        prev_t, prev_i = t, i

spark = get_spark("probe_r10_profile")
qs = registry.all_queries()
import os
ncpu = os.cpu_count()
for key in keys:
    qs[key](spark, sf_dir)  # construct once untimed (memos)
    samples.clear()
    th = threading.Thread(target=sampler, daemon=True); th.start()
    t0 = time.perf_counter()
    qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    stop.set(); th.join(); stop.clear()
    if samples:
        mean_busy = sum(samples) / len(samples) * ncpu
        p90 = sorted(samples)[int(len(samples) * 0.9)] * ncpu
    else:
        mean_busy = p90 = float("nan")
    print(
        f"{key}: {wall:.1f}s  mean_busy_cores={mean_busy:.1f}/{ncpu}"
        f"  p90_busy_cores={p90:.1f}",
        flush=True,
    )
"""


def run_profile(sf_dir: str, keys: list[str]) -> int:
    """Wall + whole-box CPU-business profile for expensive keys (VERDICT
    r9 item 7): a contention-/serial-pinned key shows mean busy cores
    far below the core count for its whole wall; an algorithmic
    (compute-bound, parallel) key saturates."""
    import subprocess
    import tempfile

    out = subprocess.run(
        [sys.executable, "-c", _PROFILE_CHILD, REPO, sf_dir, *keys],
        capture_output=True,
        text=True,
        cwd=tempfile.gettempdir(),
    )
    print(out.stdout.strip(), flush=True)
    if out.returncode != 0:
        print(f"CHILD FAILED (exit {out.returncode})\n" + out.stderr.strip()[-800:], flush=True)
    return out.returncode


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--profile":
        sys.exit(run_profile(args[1], args[2:]))
    if args and args[0] == "--batch-soak":
        sys.exit(run_batch_soak(args[1] if len(args) > 1 else None))
    if args and args[0] == "--x1000-stream":
        sys.exit(run_x1000_stream(args[1:] or list(X1000_KEYS_SMALL)))
    if args and args[0] == "--purge-scratch":
        purge_scratch()
        sys.exit(0)
    print(__doc__)
    sys.exit(2)


if __name__ == "__main__":
    main()
