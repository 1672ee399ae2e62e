"""One benchmark run inside a fresh Python + JVM process.

Started by ``run.py``; never run by hand. Builds the session from the
engine's own factory (sized by ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``, which ``run.py`` sets), makes untimed warm-up
passes, the first of which also collects each key's output hash for the
oracle check, then runs timed passes as a single closed-loop client until the
time budget is spent. Every call records its wall time and the CPU seconds
of this process session (``cputime.SessionCpu``). With ``--trace 1``
untraced and traced passes alternate, and the traced ones record spans and
per-call counters.

Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from flink_streaming_gnn_spark import registry  # noqa: E402
from flink_streaming_gnn_spark.session import get_spark  # noqa: E402

from cputime import SessionCpu  # noqa: E402
from oracle import canon  # noqa: E402
from tracing import Spans, StreamRecorder, Tracer  # noqa: E402
from workloads import REPORTED_PASSES, WORKLOADS  # noqa: E402


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _stop(spark) -> None:
    """Stop the session and wait for the JVM the session started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="run start, epoch s")
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    cpu = SessionCpu()
    setup = {"start_s": time.time() - args.t0}
    queries = registry.all_queries()
    oracle_sql = registry.all_oracle_sql()
    setup["registry_s"] = time.time() - args.t0 - setup["start_s"]
    t = time.time()
    spark = get_spark()
    setup["session_s"] = time.time() - t
    cores = spark.sparkContext.defaultParallelism
    recorder = StreamRecorder()
    spark.streams.addListener(recorder)
    rng = random.Random(args.seed)
    failures: list[dict] = []
    hashes: dict[str, list] = {}

    # untimed warm-up passes, in declared order: first-call costs (class
    # loading, JIT, the per-process scratch builds, Python worker start);
    # the first one also collects the outputs the oracle check compares
    for key in wl.keys:
        t = time.time()
        try:
            hashes[key] = canon(queries[key](spark, args.data).toPandas())
            setup[f"warmup.{key}_s"] = time.time() - t
            cpu.sample()  # see the processes this key started while they live
        except Exception:  # noqa: BLE001 — a failed key is counted, not fatal
            failures.append({"key": key, "phase": "warmup", "error": traceback.format_exc()})
    for _ in range(wl.warmup_passes - 1):
        for key in [k for k in wl.keys if k in hashes]:
            try:
                _materialize(queries[key](spark, args.data))
                cpu.sample()
            except Exception:  # noqa: BLE001
                failures.append({"key": key, "phase": "warmup", "error": traceback.format_exc()})

    spans = Spans()
    tracer = Tracer(spark, spans) if args.trace else None
    sc = spark.sparkContext
    ops: list[dict] = []
    batch_ms: list[float] = []
    passes: list[dict] = []
    t_first = time.time()
    setup_s = t_first - args.t0
    setup_cpu_s = cpu.sample()
    t_start = time.perf_counter()
    with spans.span("workload", workload=args.workload) as workload_rec:
        while True:
            index = len(passes)
            traced = bool(tracer) and index % 2 == 1
            order = rng.sample(wl.keys, len(wl.keys))
            layer_sums: dict[str, float] = {}
            pass_ops: list[float] = []
            if traced:
                tracer.enable()
            with spans.span("pass", index=index, traced=traced):
                for key in order:
                    group = f"perfbench-{index}-{key}"
                    if traced:
                        sc.setJobGroup(group, key)
                    mark = recorder.mark()
                    c0 = cpu.sample()
                    w0 = time.time()
                    t0 = time.perf_counter()
                    try:
                        if traced:
                            with spans.span("op", key=key, index=index) as op_rec:
                                with spans.span("operators.build"):
                                    df = queries[key](spark, args.data)
                                with spans.span("exec.materialize"):
                                    _materialize(df)
                        else:
                            df = queries[key](spark, args.data)
                            _materialize(df)
                    except Exception:  # noqa: BLE001
                        failures.append(
                            {"key": key, "phase": f"pass{index}", "error": traceback.format_exc()}
                        )
                        continue
                    dt = time.perf_counter() - t0
                    w1 = time.time()
                    dc = cpu.sample() - c0
                    pass_ops.append(dt)
                    try:
                        runs = recorder.wait_closed(mark)
                    except TimeoutError as exc:
                        failures.append({"key": key, "phase": f"pass{index}", "error": str(exc)})
                        runs = []
                    op = {"key": key, "pass": index, "traced": traced, "s": dt, "cpu_s": dc}
                    if traced:
                        tracer.drain_listeners()
                        self_s = spans.self_times(op_rec["id"])
                        layers = {f"{name}_s": v for name, v in self_s.items() if name != "op"}
                        layers["op.glue_s"] = self_s["op"]
                        layers.update(tracer.take_phases())
                        layers.update(tracer.call_counters(group, runs, w0, w1, cores))
                        layers.update(recorder.stream_counters(runs))
                        op["layers"] = layers
                        for name, v in layers.items():
                            layer_sums[name] = layer_sums.get(name, 0.0) + v
                    else:
                        batch_ms.extend(recorder.batch_ms(runs))
                    ops.append(op)
            if traced:
                tracer.disable()
                sc._jsc.clearJobGroup()
            passes.append(
                {"index": index, "traced": traced, "s": sum(pass_ops), "layers": layer_sums}
            )
            # whole passes until --seconds are spent, and at least
            # REPORTED_PASSES (a traced run then has both kinds of pass)
            elapsed = time.perf_counter() - t_start
            if elapsed >= args.seconds and len(passes) >= REPORTED_PASSES:
                break
        workload_rec["passes"] = len(passes)

    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap_mib = heap.getHeapMemoryUsage().getUsed() / 2**20
    scratch_bytes = _dir_bytes(os.environ.get("TMPDIR", "/nonexistent"))
    _stop(spark)

    result = {
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "setup": setup,
        "cores": cores,
        "passes": passes,
        "ops": ops,
        "batch_ms": batch_ms,
        "driver_heap_mib": heap_mib,
        "scratch_bytes": scratch_bytes,
        "failures": failures,
        "hashes": hashes,
        "oracle_sql": {k: oracle_sql[k] for k in wl.keys if k in oracle_sql},
        "spans": spans.spans if args.trace else [],
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
