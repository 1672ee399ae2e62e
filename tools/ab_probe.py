#!/usr/bin/env python
"""Interleaved A/B probe — the round-7 lesson institutionalized: this
box swings ±15-50% between sessions (and ±25% between adjacent runs),
so a ×10 number compared against a PRIOR ROUND's recording attributes
box state to code. Three round-7 A/Bs each reversed a cross-session
conclusion (bench drift blamed on localCheckpoint, a BFS lazy-union
"win", the slab-kernel "speedups").

Usage:
    python tools/ab_probe.py <baseline-ref> <key> [key ...] [--rounds N]

Creates a detached worktree at <baseline-ref>, then alternates
HEAD-arm / baseline-arm probe invocations (fresh JVM per arm per
round, idle-gated on 1-min load), printing per-arm wall times. Each
arm runs every key against the published ×10 blown corpus with a noop
sink. The worktree is removed on exit.

Verdict discipline: only claim a code-attributed delta when the arms
separate beyond their own within-arm spread.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# self-contained arm body (the baseline ref may predate any probe_r*.py):
# import the ARM TREE's package, run each key against the published ×10
# corpus with a noop sink, print per-key wall time
_ARM_BODY = r"""
import glob, re, sys, time
tree, keys = sys.argv[1], sys.argv[2:]
sys.path.insert(0, tree)
from flink_streaming_gnn_spark import registry
from flink_streaming_gnn_spark.session import get_spark
pub = re.compile(r"graft_blown_[0-9a-f]{12}$")
dirs = sorted(d for d in glob.glob("/tmp/graft_blown_*") if pub.search(d))
if not dirs:
    raise SystemExit("no published blown corpus cache; run bench.py first")
spark = get_spark("ab_probe")
queries = registry.all_queries()
for key in keys:
    t0 = time.perf_counter()
    try:
        queries[key](spark, dirs[0]).write.format("noop").mode("overwrite").save()
        print(f"{key}: {time.perf_counter() - t0:.1f}s", flush=True)
    except Exception as exc:
        print(f"{key}: ERROR {str(exc)[:200]}", flush=True)
"""


def _wait_idle(threshold: float = 1.0, max_wait_s: float = 1800.0) -> None:
    """Block until 1-min load drops below ``threshold``; proceed with a
    warning after ``max_wait_s`` (a probe that silently hangs forever on
    a busy box is worse than a noisier arm — ADVICE r7). Prints a
    periodic notice so the wait is visible."""
    start = time.monotonic()
    while True:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        if load < threshold:
            return
        waited = time.monotonic() - start
        if waited >= max_wait_s:
            print(
                f"WARNING: box never went idle in {max_wait_s:.0f}s "
                f"(load {load}); proceeding — treat this arm as noisy",
                flush=True,
            )
            return
        print(f"waiting for idle (load={load}, {waited:.0f}s)", flush=True)
        time.sleep(15)


def _run_arm(tree: str, keys: list[str]) -> str:
    out = subprocess.run(
        [sys.executable, "-c", _ARM_BODY, tree, *keys],
        capture_output=True,
        text=True,
        cwd=tempfile.gettempdir(),  # foreign cwd, like the driver
    )
    # always surface a nonzero exit + stderr tail: an arm that printed a
    # few per-key lines and then crashed must not read as a clean short
    # run (ADVICE r7 — that skews the A/B verdict silently)
    parts = [out.stdout.strip()]
    if out.returncode != 0:
        parts.append(f"ARM FAILED (exit {out.returncode})")
    if out.returncode != 0 or not out.stdout.strip():
        parts.append(out.stderr.strip()[-400:])
    return "\n".join(p for p in parts if p)


def main() -> None:
    import argparse

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("ref", help="git ref for the baseline arm")
    p.add_argument("keys", nargs="+", help="registry keys to probe")
    p.add_argument("--rounds", type=int, default=2)
    ns = p.parse_args()
    ref, keys, rounds = ns.ref, ns.keys, ns.rounds
    base = tempfile.mkdtemp(prefix="ab_probe_base_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", base, ref],
        cwd=REPO,
        check=True,
        capture_output=True,
    )
    try:
        for r in range(1, rounds + 1):
            arms = (("worktree", REPO), (f"base:{ref}", base))
            if r % 2 == 0:  # alternate order to cancel first-arm bias
                arms = arms[::-1]  # (the E3/round-9 reversed-order lesson)
            for label, tree in arms:
                _wait_idle()
                with open("/proc/loadavg") as f:
                    load = f.read().split()[0]
                print(f"--- round {r} arm {label} (load {load}):", flush=True)
                print(_run_arm(tree, keys), flush=True)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", base],
            cwd=REPO,
            capture_output=True,
        )


if __name__ == "__main__":
    main()
