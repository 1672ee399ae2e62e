#!/usr/bin/env python
"""Scale and retention probes and interleaved A/B runs over registry keys.

    python tools/probe.py soak [KEY ...]
    python tools/probe.py ladder --scale N [KEY ...]
    python tools/probe.py ab REF [KEY ...] [--rounds N]

The base corpus is ``$SPARK_GRAFT_SF_DIR`` (default sf0.1), read as
``bench.py`` reads it. Every mode runs its keys in one child process that
leads its own process session, so the CPU seconds that
``perfbench/cputime.SessionCpu`` reads there cover the child, the JVM it
starts and the Python workers the JVM forks. Each key is called a fixed
number of times in a row and its readout line gives:

* the median wall and CPU seconds of the calls;
* the driver heap, read before and after a ``gc.collect()`` in the
  harness. Python-side cycles of py4j proxies pin JVM objects until a
  collection, so the first reading is what a session that never collects
  holds, and the second is what the engine retains;
* the count of persistent RDDs after the calls, read after the same
  ``gc.collect()``: before it, a round checkpoint whose DataFrame proxy
  a cycle still holds counts too;
* the bytes of engine scratch under TMPDIR.

soak    the keys in one JVM on the base corpus, three calls each. The
        default keys are the iterative kernels (``SOAK_KEYS``); stream keys
        are accepted too.
ladder  builds the ×N corpus with ``bench.scale_corpus`` (``build_rung``
        says what each rung copies, and from which rung), then runs the
        keys in one JVM, one call each. The ×1000 rung first deletes
        orphaned engine scratch and killed corpus builds: at sf0.1 its
        events table alone holds 10⁹ rows.
ab      checks REF out in a detached worktree and runs ``--rounds`` pairs of
        arms, one on REF and one on this tree, alternating which goes first
        and waiting for the machine to go idle before each arm. Prints each
        arm's per-key median CPU and wall seconds, and how many pairs this
        tree won on CPU seconds. The default keys are ``bench.HEADLINE``.

Each JVM readout calls ``System.gc()`` and reads, again and again a second
apart, until the value stops falling (at most ``SETTLE_S``): Spark's
ContextCleaner removes the RDDs and checkpoint blocks a GC found dropped on
its own thread, after the GC has returned.

Only readouts go to stdout; Spark's logs and progress bars go to stderr, so
``python tools/probe.py soak > ledger.log`` keeps a clean ledger. A wall time
is comparable only with another taken in the same ``ab`` run: the same
machine can differ by half between sessions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Callable

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)

# the iterative kernels, cheap to expensive, so that an early failure still
# leaves a ledger
SOAK_KEYS = (
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
CALLS = 3  # per key in soak and in each ab arm; the median drops the cold call
# what the engine creates under TMPDIR (sources/scratch.py); scaled corpora
# (bench.SCALED_PREFIX) are not scratch
SCRATCH_PREFIX = "graft_"
SCALES = (10, 100, 1000)  # the ladder's rungs; build_rung says what each holds
SETTLE_S = 10.0  # the longest a JVM readout waits for the ContextCleaner


def _bytes_under(path: str) -> int:
    """Bytes of the files under ``path``; a file that goes while it is
    summed (a stream's scratch does) counts as empty."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# --- child processes ------------------------------------------------------


def _emit(rec: dict) -> None:
    print("PROBE " + json.dumps(rec), flush=True)


def build_rung(scale: str) -> None:
    """Child body: build the ×``scale`` corpus and the rungs it is built
    from, and emit its path."""
    sys.path.insert(0, REPO)
    from bench import SHIFT_COLS, Rung, scale_corpus, x10_rung
    from flink_streaming_gnn_spark.session import get_spark
    from flink_streaming_gnn_spark.sources.tables import DEFAULT_SF_DIR

    # scale -> (the scale it is built from, 1 being the base corpus; the
    # copies). ×100 copies every table of the ×10 corpus, documents and
    # embeddings included. ×1000 is 100 copies of the ×10 events, and links
    # every other table to the ×10 corpus: the stream keys it exists for
    # read events only, so its build writes no ×100 table.
    ladder = {
        10: (1, x10_rung()),
        100: (10, Rung(dict.fromkeys(SHIFT_COLS, 10), 10**11, 64)),
        1000: (10, Rung({"events": 100}, 10**11, 128)),
    }

    def corpus(s: int) -> str:
        if s == 1:
            return DEFAULT_SF_DIR
        base, rung = ladder[s]
        return scale_corpus(spark, corpus(base), rung)

    spark = get_spark("probe-build")
    _emit({"corpus": corpus(int(scale))})


def run_keys(tree: str, sf_dir: str, calls: str, *keys: str) -> None:
    """Child body: call each key ``calls`` times with the engine of ``tree``
    and emit one readout record per key."""
    sys.path[:0] = [tree, os.path.join(REPO, "perfbench")]
    from cputime import SessionCpu

    from flink_streaming_gnn_spark import registry
    from flink_streaming_gnn_spark.session import get_spark

    cpu = SessionCpu()
    spark = get_spark("probe")
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    queries = registry.all_queries()

    def settled(read: Callable[[], float]) -> float:
        """``read()`` after ``System.gc()``, repeated a second apart until
        it stops falling or ``SETTLE_S`` has passed."""
        deadline = time.monotonic() + SETTLE_S
        jvm.System.gc()
        value = read()
        while time.monotonic() < deadline:
            time.sleep(1.0)
            jvm.System.gc()
            again = read()
            if again >= value:
                return again
            value = again
        return value

    def heap_mib() -> float:
        return (runtime.totalMemory() - runtime.freeMemory()) / 2**20

    def persistent_rdds() -> float:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    for key in keys:
        rec: dict = {"key": key}
        walls, cpus = [], []
        try:
            for _ in range(int(calls)):
                c0, t0 = cpu.sample(), time.perf_counter()
                queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                cpus.append(cpu.sample() - c0)
                jvm.System.gc()  # the next call does not pay for this one's garbage
        except Exception as exc:  # noqa: BLE001 — the ledger records it and goes on
            # no heap readout: the failure can have taken the JVM down with it
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            _emit(rec)
            continue
        rec.update(wall_s=statistics.median(walls), cpu_s=statistics.median(cpus))
        rec["heap_mib"] = settled(heap_mib)
        gc.collect()
        rec["heap_collected_mib"] = settled(heap_mib)
        rec["persistent_rdds"] = settled(persistent_rdds)
        tmp = tempfile.gettempdir()
        rec["scratch_bytes"] = sum(
            _bytes_under(os.path.join(tmp, n))
            for n in os.listdir(tmp)
            if n.startswith(SCRATCH_PREFIX)
        )
        _emit(rec)
    spark.stop()


def _python(func: str, *args: str) -> list[str]:
    """argv of a fresh interpreter that calls ``func(*args)`` of this module."""
    body = f"import sys; sys.path.insert(0, {TOOLS!r}); import probe; probe.{func}(*sys.argv[1:])"
    return [sys.executable, "-c", body, *args]


def _readout(rec: dict) -> str:
    if "error" in rec:
        return f"{rec['key']}: ERROR {rec['error']}"
    return (
        f"{rec['key']}: wall {rec['wall_s']:.1f}s  cpu {rec['cpu_s']:.1f}s"
        f"  persistentRDDs {rec['persistent_rdds']:g}"
        f"  heap {rec['heap_mib']:.0f} MiB ({rec['heap_collected_mib']:.0f} after gc.collect)"
        f"  scratch {rec['scratch_bytes'] / 2**20:.1f} MiB"
    )


def _run_child(argv: list[str]) -> tuple[list[dict], int]:
    """Run ``argv`` as the leader of a new process session; print each key
    readout as it arrives and pass every other line of its stdout to
    stderr. The whole session is killed on return, so no JVM outlives it."""
    proc = subprocess.Popen(
        argv, stdout=subprocess.PIPE, text=True, cwd=tempfile.gettempdir(),
        start_new_session=True,
    )
    records = []
    try:
        for line in proc.stdout:
            if not line.startswith("PROBE "):
                sys.stderr.write(line)
                continue
            rec = json.loads(line[len("PROBE "):])
            records.append(rec)
            if "key" in rec:
                print(_readout(rec), flush=True)
        code = proc.wait()
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code:
        print(f"CHILD FAILED (exit {code})", flush=True)
    return records, code


def _failed(records: list[dict], code: int, keys: list[str]) -> bool:
    done = {r["key"] for r in records if "key" in r and "error" not in r}
    return bool(code) or done != set(keys)


# --- modes ----------------------------------------------------------------


def soak(sf_dir: str, keys: list[str]) -> int:
    print(f"soak corpus: {sf_dir}  calls per key: {CALLS}", flush=True)
    records, code = _run_child(_python("run_keys", REPO, sf_dir, str(CALLS), *keys))
    return int(_failed(records, code, keys))


def purge_scratch() -> None:
    """Delete what processes which died before their cleanup ran have left
    under TMPDIR: engine scratch, and the staging directories of scaled
    corpora whose build was killed (``_run_child`` kills a whole session)."""
    from bench import SCALED_PREFIX

    tmp, freed = tempfile.gettempdir(), 0
    for name in os.listdir(tmp):
        if name.startswith((SCRATCH_PREFIX, "." + SCALED_PREFIX)):
            path = os.path.join(tmp, name)
            freed += _bytes_under(path)
            shutil.rmtree(path, ignore_errors=True)
    print(f"purged orphaned scratch: {freed / 2**30:.1f} GiB", flush=True)


def ladder(scale: int, keys: list[str]) -> int:
    if scale == 1000:
        purge_scratch()
    records, code = _run_child(_python("build_rung", str(scale)))
    if code:
        return 1
    corpus = records[-1]["corpus"]
    print(f"x{scale} corpus: {corpus}", flush=True)
    records, code = _run_child(_python("run_keys", REPO, corpus, "1", *keys))
    return int(_failed(records, code, keys))


def _wait_idle(threshold: float = 1.0, max_wait_s: float = 1800.0) -> float:
    """Wait until the 1-minute load average falls below ``threshold``, or
    give up after ``max_wait_s`` with a warning in the ledger. Returns the
    load the arm starts at."""
    start = time.monotonic()
    while True:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        waited = time.monotonic() - start
        if load < threshold:
            return load
        if waited >= max_wait_s:
            print(f"WARNING: load {load} after {waited:.0f}s; this arm is noisy", flush=True)
            return load
        print(f"waiting for idle (load {load}, {waited:.0f}s)", file=sys.stderr, flush=True)
        time.sleep(15)


def _median_of(pairs: list[dict], key: str, field: str) -> str:
    vals = [arm[key][field] for arm in pairs if key in arm]
    return f"{statistics.median(vals):.2f}s" if vals else "n/a"


def ab(sf_dir: str, ref: str, keys: list[str], rounds: int) -> int:
    base = tempfile.mkdtemp(prefix="probe_ab_")
    arms = {ref: base, "tree": REPO}
    results: dict[str, list[dict]] = {label: [] for label in arms}
    failed = False
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", base, ref],
            cwd=REPO, check=True, capture_output=True,
        )
        for r in range(rounds):
            order = list(arms) if r % 2 == 0 else list(arms)[::-1]
            for label in order:
                load = _wait_idle()
                print(f"--- pair {r + 1} arm {label} (load {load:.2f})", flush=True)
                records, code = _run_child(
                    _python("run_keys", arms[label], sf_dir, str(CALLS), *keys)
                )
                failed |= _failed(records, code, keys)
                results[label].append(
                    {rec["key"]: rec for rec in records if "cpu_s" in rec}
                )
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", base], cwd=REPO, capture_output=True
        )
        shutil.rmtree(base, ignore_errors=True)
    print(f"--- medians over {rounds} pairs (cpu, wall); wins: pairs where tree used less CPU")
    for key in keys:
        wins = sum(
            key in t and key in b and t[key]["cpu_s"] < b[key]["cpu_s"]
            for t, b in zip(results["tree"], results[ref])
        )
        cols = "  ".join(
            f"{label} {_median_of(results[label], key, 'cpu_s')}"
            f" {_median_of(results[label], key, 'wall_s')}"
            for label in arms
        )
        print(f"{key}: {cols}  tree wins {wins}/{rounds}", flush=True)
    return int(failed)


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    modes = ap.add_subparsers(dest="mode", required=True)
    p = modes.add_parser("soak")
    p.add_argument("keys", nargs="*")
    p = modes.add_parser("ladder")
    p.add_argument("--scale", type=int, required=True, choices=SCALES)
    p.add_argument("keys", nargs="+")
    p = modes.add_parser("ab")
    p.add_argument("ref")
    p.add_argument("keys", nargs="*")
    p.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from flink_streaming_gnn_spark.sources.tables import DEFAULT_SF_DIR

    if args.mode == "soak":
        return soak(DEFAULT_SF_DIR, args.keys or list(SOAK_KEYS))
    if args.mode == "ladder":
        return ladder(args.scale, args.keys)
    from bench import HEADLINE

    return ab(DEFAULT_SF_DIR, args.ref, args.keys or list(HEADLINE), args.rounds)


if __name__ == "__main__":
    sys.exit(main())
