"""The engine's one iteration driver, ``iterate`` (the Pregel shape of
the reference's A10 iteration head/tail), its DuckDB twin ``unroll``,
and the plan-state rules of driver loops.

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
import itertools
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, Observation

_F = TypeVar("_F", bound=Callable)

Observe = Callable[[DataFrame, Column], DataFrame]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, Observe], DataFrame],
    rounds: int | None = None,
) -> DataFrame:
    """Run ``step`` round after round and return the last state.

    Each round calls ``step(state, observe)``, ``localCheckpoint()``s the
    frame it returns, and reads the one count the step tagged with
    ``observe(frame, count)``. The loop stops at the first round whose
    count is 0, or after ``rounds`` rounds. With ``rounds=None`` it runs
    to the fixpoint, uncapped, and a step that tags no count raises.

    The rules every step keeps:

    - Observe in the round's checkpoint pipeline, never on a side
      subtree: the count then rides the checkpoint job, and no other job
      runs. AQE may prune a side subtree it finds empty, and
      ``Observation.get`` on a pruned node raises.
    - The state is checkpointed every round because a step references it
      twice or more (a join and a self-loop row, a dangling-mass side, an
      anti-join): untruncated, the plan doubles per round (2^rounds
      copies of the tree to analyse). The checkpoint makes it a leaf.
    """
    for _ in range(rounds) if rounds is not None else itertools.count():
        tag = Observation()
        tagged: list[Column] = []

        def observe(frame: DataFrame, count: Column) -> DataFrame:
            tagged.append(count)
            return frame.observe(tag, count.alias("n"))

        out = step(state, observe)
        if rounds is None and not tagged:
            raise ValueError("iterate: a step with no round cap must observe a count")
        state = out.localCheckpoint()
        if tagged and tag.get["n"] == 0:
            break
    return state


def unroll(
    head: str,
    round_ctes: Callable[[int], str],
    rounds: int,
    fixpoint: str | None = None,
) -> str:
    """DuckDB twin of ``iterate``: ``head`` (round 0's CTEs) and
    ``round_ctes(r)`` for r = 1..``rounds``, joined into one CTE chain
    that the caller puts between ``WITH`` and its final SELECT.

    A monotone fixpoint twin names its state CTE ``fixpoint`` (a template
    with an ``{r}`` slot). The chain then ends with a guard that raises
    ``oracle not converged`` when the last round's state differs from
    the one before it, and the final SELECT filters on ``converged(…)``
    so that DuckDB cannot prune the guard. Without ``fixpoint`` the round
    count is query semantics.
    """
    ctes = [head, *(round_ctes(r) for r in range(1, rounds + 1))]
    if fixpoint is not None:
        last, prev = fixpoint.format(r=rounds), fixpoint.format(r=rounds - 1)
        ctes.append(f"""{last}_converged AS MATERIALIZED (SELECT CASE WHEN EXISTS (
            (SELECT * FROM {last} EXCEPT SELECT * FROM {prev}) UNION ALL
            (SELECT * FROM {prev} EXCEPT SELECT * FROM {last})
        ) THEN error('oracle not converged') ELSE true END AS ok)""")
    return ",\n        ".join(ctes)


def converged(fixpoint: str, rounds: int) -> str:
    """The final SELECT's predicate on the guard of ``unroll``."""
    return f"(SELECT ok FROM {fixpoint.format(r=rounds)}_converged)"


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
