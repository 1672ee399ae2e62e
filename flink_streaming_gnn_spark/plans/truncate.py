"""Hard plan-state truncation for long iterative driver loops.

``localCheckpoint(eager=True)`` truncates the logical plan (LogicalRDD)
and the RDD lineage — but measured on this Spark build, a loop that
rebinds a frame every generation and references it more than twice per
generation still accumulates driver-side analyzer/planner state ACROSS
checkpoints: per-generation planning cost stays ~0.3 s for the first
~13 generations and then grows ~2.5–3× per generation (0.4 → 1.4 → 5 →
13 → 35 s ...), eventually OOMing a 24 g driver heap — while the logical
plan string and ``rdd.toDebugString`` both stay constant-size. (Shapes
that reference the evolving frame at most twice per generation — the
components/pagerank loops — measure flat for 25+ generations; a
self-join of the frame with a projection of itself is the worst case.)

``fresh_frame`` severs that accumulation: it re-wraps a (materialized —
call it on a just-checkpointed frame) DataFrame's JVM row RDD as a brand
new DataFrame via ``createDataFrame(jdf.rdd(), jdf.schema())``. The new
frame shares no analyzer bookkeeping with its ancestry; measured, the
same 25-generation loop stays flat at ~0.33 s/generation. Cost is one
JVM-side InternalRow→Row conversion of the frame's rows per generation —
proportional to the (small, shrinking) iterative state, never the
corpus, and no data crosses the Python boundary.
"""

from __future__ import annotations

import functools
import gc
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

_F = TypeVar("_F", bound=Callable)


def release_superseded_checkpoints(fn: _F) -> _F:
    """Deterministic release of superseded ``localCheckpoint`` blocks at
    kernel exit — the round-10 sweep of the fix first landed in
    ``graph/components.hash_min_cc`` (round-9 E7).

    Why: checkpoint blocks live in the block-manager heap (local mode:
    the driver JVM) and are released by the ContextCleaner only once the
    Python DataFrame proxies are collected — and an iterative kernel's
    per-round proxies sit in CPython REFERENCE CYCLES that refcounting
    never breaks, so in a long-lived shared JVM every superseded round's
    |V|-row block set stays live until some full Python GC happens to
    run. Measured on ``stream_cc_e2e`` (round-9 single-JVM soak): ~6.2
    GiB of post-System.gc() driver heap left behind at ×100; at ×10,
    1113 MiB and 5 persistent RDDs after the key, dropping to 89 MiB and
    0 RDDs after one ``gc.collect()``. ``DataFrame.unpersist()``
    does NOT free checkpoint blocks (CacheManager path only — probed),
    so one ``gc.collect()`` as the kernel returns is the deterministic
    release. The returned frame (the caller's data) stays live and is
    freed the same way when the caller drops it. Cost: one cycle
    collection over a small Python heap, a few ms — invisible next to
    any iterative kernel's compute.
    """

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        finally:
            gc.collect()

    return wrapper  # type: ignore[return-value]


def fresh_frame(df: DataFrame) -> DataFrame:
    """Re-wrap a materialized (checkpointed) DataFrame as a fresh one with
    no inherited analyzer/planner state. Use inside iterative loops right
    after ``localCheckpoint()`` when the loop self-references the evolving
    frame more than twice per generation."""
    spark = df.sparkSession
    jdf = df._jdf  # noqa: SLF001 — deliberate JVM-side re-wrap, no collect
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema()),  # noqa: SLF001
        spark,
    )
