"""Per-process scratch directories (sources/scratch.py) under threads: a
key builds once however many threads ask for it, and a build that asks
for another key's directory does not wait on itself.

Each test loads its own instance of the module, so its memo starts empty
and a lock held forever by a broken build cannot stall later tests."""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
import time

from flink_streaming_gnn_spark.sources import scratch


def _fresh_scratch():
    spec = importlib.util.spec_from_file_location("scratch_under_test", scratch.__file__)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_build_may_ask_for_another_kind():
    mod = _fresh_scratch()
    got = {}

    def inner(staging):
        open(os.path.join(staging, "inner"), "w").close()

    def outer(staging):
        got["inner"] = mod.scratch_dir("inner", "fp", inner)
        open(os.path.join(staging, "outer"), "w").close()

    def run():
        got["outer"] = mod.scratch_dir("outer", "fp", outer)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "scratch_dir deadlocked on a nested build"
    assert os.path.isfile(os.path.join(got["inner"], "inner"))
    assert os.path.isfile(os.path.join(got["outer"], "outer"))


def test_one_key_builds_once_across_threads():
    """Eight threads ask for two keys at once, with a short switch
    interval to interleave them: each key builds once, and every thread
    asking for it gets the same directory."""
    mod = _fresh_scratch()
    builds = {"a": 0, "b": 0}
    count_lock = threading.Lock()
    start = threading.Barrier(8)
    paths: dict[int, str] = {}

    def make_build(kind):
        def build(staging):
            with count_lock:
                builds[kind] += 1
            time.sleep(0.05)  # hold the key while the other threads arrive

        return build

    def run(i):
        kind = "ab"[i % 2]
        start.wait(timeout=30)
        paths[i] = mod.scratch_dir(kind, "fp", make_build(kind))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,), daemon=True) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert builds == {"a": 1, "b": 1}
    assert len({paths[i] for i in range(0, 8, 2)}) == 1
    assert len({paths[i] for i in range(1, 8, 2)}) == 1
    assert paths[0] != paths[1]
