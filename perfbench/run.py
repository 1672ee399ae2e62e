#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

One run: write a seeded input corpus, start one fresh Python + JVM worker
process (``worker.py``) that warms up and then runs timed passes over the
workload's registry keys for ``--seconds``, check every key's output
against its DuckDB twin, and print the metrics. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. They are CPU seconds (see
``cputime.py`` for why); the wall times are printed beside them. ``--trace 1``
alternates untraced and traced passes and reports the per-layer metrics, writing the
spans and per-call counters to ``.perfbench_work/trace/``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root, including the engine's temporary files (``TMPDIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from datagen import write_corpus  # noqa: E402
from oracle import duckdb_canon  # noqa: E402
from workloads import REPORTED_PASSES, WORKLOADS  # noqa: E402

RUN_LIMIT_S = 175.0  # a run ends, result printed, within this
ORACLE_RESERVE_S = 15.0
# prefixes of the directories the engine creates under TMPDIR; none may
# outlive the worker process
DERIVED_PREFIXES = ("stream_", "graft_")

END_TO_END = (
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("key_cpu_s_geomean", "s"),
)
PER_LAYER = (
    ("operators.build_s", "s"),
    ("exec.materialize_s", "s"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.idle_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.core_busy_frac", "frac"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.failed_tasks", "count"),
    ("sources.input_bytes", "B"),
    ("sources.input_rows", "count"),
    ("sources.scratch_bytes", "B"),
)
# Named layer metrics that only some workloads exercise: printed and
# written to the trace file, not part of the result line, where every
# workload must report every metric.
PER_LAYER_EXTRA = (
    ("graph.kernel_s", "s"),
    ("streaming.drain_s", "s"),
    ("catalyst.analysis_ms", "ms"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.get_batch_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.state_rows_total", "count"),
    ("streaming.state_rows_updated", "count"),
    ("streaming.state_mem_bytes", "B"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.rows_dropped_by_watermark", "count"),
    ("streaming.output_bytes", "B"),
    ("python.boot_ms", "ms"),
    ("python.init_ms", "ms"),
    ("python.run_ms", "ms"),
    ("python.bytes_sent", "B"),
    ("python.bytes_received", "B"),
    ("op.glue_s", "s"),
)


def session_env(work: str, tmp: str) -> dict[str, str]:
    """Size the engine's session to this machine through its own env vars:
    every core, and a driver heap well below physical memory.

    The JVM compiles with C1 only. A run lives for about a minute, and with
    the default tiered compiler C2 was still compiling after seven passes:
    compiler threads used 3-8 CPU s of every 6-7 s pass and the engine's
    own CPU time per pass fell by half over those passes. With C1 only the
    second pass is already as fast as the seventh. Code cache flushing is
    off: about a minute into the process it evicted compiled methods and
    the pass that recompiled them used twice the CPU time of its
    neighbours."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gib = max(1, min(4, int(phys_gib // 4)))
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # keep the JVM's temp files in the work dir too
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                "-XX:-UseCodeCacheFlushing"
            ),
        }
    )
    return env


def format_tail(samples: list[float], unit: str) -> str:
    """The highest percentile with at least ten samples above it, with that
    percentile and the sample count; n/a below eleven samples."""
    xs = sorted(samples)
    i = len(xs) - 11
    if i < 0:
        return f"n/a ({len(xs)} samples)"
    return f"{xs[i]:.4f} {unit} (p{100.0 * (i + 1) / len(xs):.0f} of {len(xs)} samples)"



def median_of(ops: list[dict], key: str, field: str) -> float:
    return statistics.median(o[field] for o in ops if o["key"] == key)


def emit(attempted: int, failed: int, metrics: dict) -> None:
    """Print the result line; a run without metrics is never correct."""
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))


def derived_leftovers(tmp: str) -> list[str]:
    if not os.path.isdir(tmp):
        return []
    return sorted(n for n in os.listdir(tmp) if n.startswith(DERIVED_PREFIXES))


def run_worker(args, data_dir: str, out: str, env: dict, work: str, t0: float) -> str | None:
    """Run the worker to completion; return an error text or None."""
    log_path = os.path.join(work, "worker.log")
    budget = RUN_LIMIT_S - ORACLE_RESERVE_S - (time.time() - t0)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data", data_dir,
        "--out", out,
        "--t0", repr(t0),
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, budget))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the worker's JVM and Python workers share its process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code is None:
        return f"worker timed out after {budget:.0f} s (log: {log_path})"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        return f"worker exited with {code}:\n{tail}"
    return None


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "flink_streaming_gnn_spark", "registry.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    data_dir = os.path.join(work, "data", args.workload, f"sf{wl.sf:g}")
    out = os.path.join(work, "worker.json")
    for path in (tmp, os.path.join(work, "data"), os.path.join(work, "spark-local")):
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.exists(out):
        os.remove(out)
    input_bytes = write_corpus(data_dir, args.seed, wl.sf)
    env = session_env(work, tmp)
    # this process's CPU up to here (imports, corpus) is set-up too
    corpus_cpu_s = time.process_time()

    error = run_worker(args, data_dir, out, env, work, t0)
    if error:
        print(error, file=sys.stderr)
        emit(1, 1, {})
        return 0
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    hashes = res["hashes"]
    want = duckdb_canon(data_dir, res["oracle_sql"])
    for key in wl.keys:
        if key not in want:
            status = "rows-only" if key in hashes else "FAIL"
        elif hashes.get(key) == want[key]:
            status = "hash-match"
        else:
            status = "FAIL"
            error = f"{hashes.get(key)} != {want[key]}"
            failures.append({"key": key, "phase": "oracle", "error": error})
        rows = hashes[key][2] if key in hashes else "-"
        print(f"oracle {key}: {status} ({rows} rows)")
    leftovers = derived_leftovers(tmp)
    if leftovers:
        failures.append({"key": "-", "phase": "cleanup", "error": f"left in tmp: {leftovers}"})

    ops = [o for o in res["ops"] if not o["traced"]]
    untraced = [p["s"] for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    attempted = len(res["ops"]) + len(wl.keys) + sum(
        1 for f in failures if f["phase"].startswith("pass")
    )
    failed = len(failures)
    for f in failures:
        last_line = f["error"].strip().splitlines()[-1]
        print(f"FAILED {f['key']} [{f['phase']}]: {last_line}", file=sys.stderr)
    if not {o["key"] for o in ops if o["pass"] < REPORTED_PASSES} >= set(wl.keys):
        emit(attempted, failed, {})
        return 0

    print(
        f"workload {args.workload}: sf{wl.sf:g}, seed {args.seed}, "
        f"{res['cores']} cores, {len(res['passes'])} passes, {len(ops)} untraced ops, "
        f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
        f"SPARK_GRAFT_DRIVER_MEM={env['SPARK_GRAFT_DRIVER_MEM']}"
    )
    # per key, the median over the calls of the first REPORTED_PASSES passes
    window = [o for o in ops if o["pass"] < REPORTED_PASSES]
    key_cpu = [median_of(window, k, "cpu_s") for k in wl.keys]
    e2e = {
        "setup_s": corpus_cpu_s + res["setup_cpu_s"],
        "pass_cpu_s": sum(key_cpu),
        "key_cpu_s_geomean": statistics.geometric_mean(key_cpu),
    }
    for name, unit in END_TO_END:
        print(f"  {name} = {e2e[name]:.4f} {unit} (CPU)")
    print(f"  driver_heap_mib = {res['driver_heap_mib']:.1f} MiB (after System.gc())")
    print(f"  setup_wall_s = {res['setup_s']:.4f} s")
    print("    setup: " + ", ".join(f"{k} {v:.2f}" for k, v in res["setup"].items()))
    print(f"  pass_s = {sum(median_of(window, k, 's') for k in wl.keys):.4f} s (wall)")
    print(f"  pass_s_each = {' '.join(f'{s:.2f}' for s in untraced)} s (wall)")
    print(f"  op_s_p50 = {statistics.median(o['s'] for o in ops):.4f} s ({len(ops)} ops)")
    print(f"  op_s_tail = {format_tail([o['s'] for o in ops], 's')}")
    if res["batch_ms"]:
        b = res["batch_ms"]
        print(f"  batch_ms_p50 = {statistics.median(b):.1f} ms ({len(b)} micro-batches)")
        print(f"  batch_ms_tail = {format_tail(b, 'ms')}")
    print(f"  failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    print(f"  input_bytes = {input_bytes} B")

    if args.trace:
        layers = {}
        for name, _unit in PER_LAYER + PER_LAYER_EXTRA:
            vals = [p["layers"].get(name, 0.0) for p in traced]
            layers[name] = statistics.median(vals) if vals else 0.0
        layers["sources.scratch_bytes"] = res["scratch_bytes"]
        # a ratio of pass sums, not a sum of per-call ratios
        layers["exec.core_busy_frac"] = statistics.median(
            p["layers"]["exec.task_s"] / (p["s"] * res["cores"]) for p in traced
        )
        traced_pass = statistics.median(p["s"] for p in traced)
        print(f"traced passes: {len(traced)}; per-pass medians:")
        for name, unit in PER_LAYER + PER_LAYER_EXTRA:
            print(f"  {name} = {layers[name]:.4f} {unit}")
        untraced_pass = statistics.median(untraced)
        print(
            f"  trace.overhead_s = {traced_pass - untraced_pass:+.4f} s "
            f"(traced pass_s {traced_pass:.4f} - untraced {untraced_pass:.4f})"
        )
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(
                {"passes": res["passes"], "ops": res["ops"], "spans": res["spans"]}, f
            )
        print(f"  spans and per-call counters: {trace_path}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    emit(attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
