"""Benchmark-side observation of the engine: spans and per-call counters.

Everything here sits outside the engine. Spans are opened around calls into
each layer's public functions; counters are read from Spark's own stores
right after each call:

* ``StreamRecorder`` — a ``StreamingQueryListener`` that keeps every
  micro-batch's progress, grouped by stream run id.
* ``Tracer`` — the traced run: a ``QueryExecutionListener`` (Catalyst's
  per-execution phase tracker), wrappers around the streaming drains and
  graph kernels, and readers for the status store (jobs, stages) and the
  SQL status store (Python-worker metrics), scoped to one call's job group
  and the run ids of the streams the call started. A call never diffs the
  global stage list: the store keeps only its newest 1000 stages and 1000
  SQL executions, so a global diff goes wrong once a long kernel pushes
  older entries out.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# The streaming-drain and graph-kernel functions the workloads' keys call;
# a key added to a workload needs its drain or kernel listed here. Callers
# look them up as module globals at call time, so rebinding the module
# attribute wraps every call.
LAYER_FUNCS = {
    "streaming.drain": (
        ("flink_streaming_gnn_spark.streaming.replay", "run_append_spooled"),
    ),
    "graph.kernel": (("flink_streaming_gnn_spark.graph.components", "hash_min_cc"),),
}

_PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNIT_SCALE = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_METRIC_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")

_DURATION_KEYS = {
    "addBatch": "streaming.add_batch_ms",
    "getBatch": "streaming.get_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


class StreamRecorder(StreamingQueryListener):
    """Per-run-id micro-batch progress. Listener delivery is asynchronous,
    and a stream's terminated event is posted after its last progress
    event, so a record is complete once its terminated event has arrived
    (``wait_closed``)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.ended: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "rows_updated": s.numRowsUpdated,
                    "mem_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "dropped_by_watermark": s.numRowsDroppedByWatermark,
                }
                for s in (p.stateOperators or [])
            ],
        }
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.ended.add(str(event.runId))

    def mark(self) -> int:
        with self._lock:
            return len(self.started)

    def wait_closed(self, since: int, timeout_s: float = 30.0) -> list[str]:
        """Wait until every stream started after ``mark() == since`` has
        delivered its terminated event; return their run ids."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                runs = self.started[since:]
                if all(r in self.ended for r in runs):
                    return runs
            if time.monotonic() > deadline:
                raise TimeoutError(f"stream listener events missing for {runs}")
            time.sleep(0.01)

    def batch_ms(self, runs: list[str]) -> list[float]:
        with self._lock:
            return [
                float(b["duration_ms"].get("triggerExecution", 0))
                for r in runs
                for b in self.progress.get(r, [])
            ]

    def stream_counters(self, runs: list[str]) -> dict[str, float]:
        out = {name: 0.0 for name in _DURATION_KEYS.values()}
        out.update(
            {
                "streaming.batches": 0,
                "streaming.input_rows": 0,
                "streaming.state_rows_total": 0,
                "streaming.state_rows_updated": 0,
                "streaming.state_mem_bytes": 0,
                "streaming.state_commit_ms": 0.0,
                "streaming.rows_dropped_by_watermark": 0,
            }
        )
        with self._lock:
            for r in runs:
                batches = self.progress.get(r, [])
                for b in batches:
                    out["streaming.batches"] += 1
                    out["streaming.input_rows"] += b["rows"]
                    for k, name in _DURATION_KEYS.items():
                        out[name] += b["duration_ms"].get(k, 0)
                    for s in b["state"]:
                        out["streaming.state_rows_updated"] += s["rows_updated"]
                        out["streaming.state_commit_ms"] += s["commit_ms"]
                        out["streaming.rows_dropped_by_watermark"] += s[
                            "dropped_by_watermark"
                        ]
                if batches:  # state size is the final batch's
                    for s in batches[-1]["state"]:
                        out["streaming.state_rows_total"] += s["rows_total"]
                        out["streaming.state_mem_bytes"] += s["mem_bytes"]
        return out


class Spans:
    """In-memory span log: name, start, end, parent. Written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root_id``: a
        span's duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans[root_id:]:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(s: dict) -> None:
            kids = children.get(s["id"], [])
            covered = sum(k["end"] - k["start"] for k in kids)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
            for k in kids:
                walk(k)

        walk(self.spans[root_id])
        return out


def _metric_number(text: str) -> float:
    """Parse a formatted SQL metric ("1.2 s", "3.4 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) to ms or bytes."""
    m = _METRIC_VALUE.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 1.0)


class Tracer:
    """The traced run's instruments. ``enable()``/``disable()`` switch the
    Catalyst listener and the layer wrappers on and off between passes, so
    one run measures both traced and untraced passes."""

    def __init__(self, spark, spans: Spans) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.spans = spans
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._tracker = sc.statusTracker()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._d3 = getattr(self._store, "stageData$default$3")()
        self._d5 = getattr(self._store, "stageData$default$5")()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self.phases: list[dict] = []
        self._phase_lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._listener = _PhaseListener(self)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def enable(self) -> None:
        self.spark._jsparkSession.listenerManager().register(self._listener)
        for layer, funcs in LAYER_FUNCS.items():
            for mod_name, attr in funcs:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                self._originals.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(layer, fn))

    def disable(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        for mod, attr, fn in reversed(self._originals):
            setattr(mod, attr, fn)
        self._originals.clear()

    def _wrap(self, layer: str, fn):
        spans = self.spans

        def traced(*args, **kwargs):
            with spans.span(layer, fn=fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def drain_listeners(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def add_phases(self, phases: dict[str, float]) -> None:
        with self._phase_lock:
            self.phases.append(phases)

    def take_phases(self) -> dict[str, float]:
        with self._phase_lock:
            events, self.phases = self.phases, []
        out = {
            "catalyst.analysis_ms": 0.0,
            "catalyst.optimization_ms": 0.0,
            "catalyst.planning_ms": 0.0,
        }
        for ev in events:
            for phase, ms in ev.items():
                key = f"catalyst.{phase}_ms"
                if key in out:
                    out[key] += ms
        return out

    def call_counters(
        self, group: str, stream_groups: list[str], t0: float, t1: float, cores: int
    ) -> dict[str, float]:
        """Job, stage, task and Python-worker counters of one call: the jobs
        of its own job group plus those of every stream it started (a
        stream's jobs run under its run id). ``t0``/``t1`` are the call's
        epoch seconds, used for the idle time."""
        job_ids: list[int] = []
        stream_jobs: set[int] = set()
        for g in [group, *stream_groups]:
            ids = list(self._tracker.getJobIdsForGroup(g))
            job_ids += ids
            if g in stream_groups:
                stream_jobs.update(ids)
        out = {
            "exec.jobs": len(job_ids),
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.task_s": 0.0,
            "exec.cpu_s": 0.0,
            "exec.gc_s": 0.0,
            "exec.shuffle_read_bytes": 0,
            "exec.shuffle_write_bytes": 0,
            "exec.spill_bytes": 0,
            "exec.failed_tasks": 0,
            "sources.input_bytes": 0,
            "sources.input_rows": 0,
            "streaming.output_bytes": 0,
        }
        out.update({name: 0.0 for name in _PYTHON_METRICS.values()})
        intervals: list[tuple[float, float]] = []
        seen_stages: set[int] = set()
        sql_ids: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            sql = self._store.jobWithAssociatedSql(j)._2()
            if sql.isDefined():
                sql_ids.add(int(sql.get()))
            for s in info.stageIds:
                if s in seen_stages:
                    continue
                seen_stages.add(s)
                try:
                    attempts = self._json(
                        self._store.stageData(s, False, self._d3, False, self._d5)
                    )
                except Exception:  # noqa: BLE001 — skipped stages have no data
                    continue
                for a in attempts:
                    if a.get("status") == "SKIPPED":
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += a["numCompleteTasks"]
                    out["exec.task_s"] += a["executorRunTime"] / 1e3
                    out["exec.cpu_s"] += a["executorCpuTime"] / 1e9
                    out["exec.gc_s"] += a["jvmGcTime"] / 1e3
                    out["exec.shuffle_read_bytes"] += a["shuffleReadBytes"]
                    out["exec.shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    out["exec.spill_bytes"] += a["diskBytesSpilled"]
                    out["exec.failed_tasks"] += a["numFailedTasks"]
                    out["sources.input_bytes"] += a["inputBytes"]
                    out["sources.input_rows"] += a["inputRecords"]
                    if j in stream_jobs:
                        out["streaming.output_bytes"] += a["outputBytes"]
                    if a.get("submissionTime") and a.get("completionTime"):
                        intervals.append(
                            (a["submissionTime"] / 1e3, a["completionTime"] / 1e3)
                        )
        for eid in sql_ids:
            for name, value in self._python_metrics(eid).items():
                out[name] += value
        out["exec.idle_s"] = (t1 - t0) - _covered(intervals, t0, t1)
        out["exec.core_busy_frac"] = out["exec.task_s"] / max(1e-9, (t1 - t0) * cores)
        return out

    def _python_metrics(self, execution_id: int) -> dict[str, float]:
        nodes = self._json(self._sql_store.planGraph(execution_id).allNodes())
        wanted = {
            str(m["accumulatorId"]): _PYTHON_METRICS[m["name"]]
            for n in nodes
            for m in n.get("metrics", [])
            if m.get("name") in _PYTHON_METRICS
        }
        if not wanted:
            return {}
        values = self._json(self._sql_store.executionMetrics(execution_id))
        out: dict[str, float] = {}
        for acc, name in wanted.items():
            if acc in values:
                out[name] = out.get(name, 0.0) + _metric_number(values[acc])
        return out


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class _PhaseListener:
    """``QueryExecutionListener`` implemented over Py4J: keeps the phase
    durations of Catalyst's tracker for every finished batch execution."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        self._tracer.add_phases(phases)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
