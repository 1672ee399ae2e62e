"""Plan hints that stay valid at scale.

The round-1 design forced ``F.broadcast()`` on every "dimension" side —
correct while customer/embeddings/vocabulary fit in memory at sf0.1, but a
forced hint overrides both ``spark.sql.autoBroadcastJoinThreshold`` and
AQE's runtime demotion, so at the 100 TB posture those plans OOM instead of
falling back to a shuffle join (VERDICT.md round 1, "What's wrong" #1).

``maybe_broadcast`` applies the hint only when Catalyst's own size estimate
for the optimized plan is under a threshold; otherwise it returns the frame
unhinted and lets AQE / autoBroadcastJoinThreshold pick the strategy at
runtime (which may still broadcast — the point is that the *engine* decides
with real sizes, not the query author with sf0.1 intuitions). The estimate
is driver-only plan metadata (parquet footer sizes propagated through the
plan) — no job runs.

Tables that are constant-size by schema (nation: 25 rows, region: 5) keep
their unconditional ``F.broadcast`` at the call sites; this helper is for
tables that grow with the data (customer, embeddings, derived vocabularies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Comfortably broadcastable on executors with a few GiB of heap, while small
# enough that an 8-byte-per-row key table of ~10M rows still qualifies.
DEFAULT_BROADCAST_BYTES = 128 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for ``df``'s optimized plan, or None
    when the estimate is unavailable (e.g. some streaming sources)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = stats.sizeInBytes()
        # Py4J converts scala.math.BigInt to a Python int directly; fall
        # back to the string form for any bridge that hands back the object
        return int(size) if isinstance(size, int) else int(size.toString())
    except Exception:
        return None


def maybe_broadcast(
    df: DataFrame,
    max_bytes: int = DEFAULT_BROADCAST_BYTES,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Broadcast-hint ``df`` only if Catalyst estimates it under
    ``max_bytes``; otherwise return it unhinted so AQE keeps the freedom to
    demote to a shuffle join (or promote to broadcast with runtime sizes).

    ``size_of``: gate on THAT frame's estimate instead of ``df``'s own —
    for problem knowledge the optimizer cannot derive (guide §8). The
    canonical case is an aggregate whose row count is bounded by a key
    domain: Catalyst's post-join/post-agg estimates are multiplicative
    garbage (measured: a 1000-row per-supplier aggregate estimated at
    ~97 PB, forcing a sort-merge join with a full shuffle of the edge
    side), while the DOMAIN table's footer-based estimate is accurate.
    The caller asserts ``|df| ≤ |size_of|`` rows; the gate then scales
    with the data exactly like every other maybe_broadcast site — at a
    scale where the domain outgrows the threshold, no hint is applied
    and the engine falls back to the shuffle join.

    The proxy's estimate is in the proxy's bytes per row, and a one-key
    domain table is often several times narrower than the frame that is
    broadcast. So the estimate is scaled by the ratio of the two schemas'
    row widths, counted as Catalyst counts them for a projection: 8 bytes
    of row header plus each column type's ``defaultSize``. Both schemas
    come from the analyzed plans; the driver optimizes no extra plan."""
    if size_of is None:
        size = plan_size_bytes(df)
    else:
        size = plan_size_bytes(size_of)
        if size is not None:
            size = size * _row_bytes(df) // _row_bytes(size_of)
    if size is not None and 0 <= size <= max_bytes:
        return F.broadcast(df)
    return df


def _row_bytes(df: DataFrame) -> int:
    return 8 + df._jdf.schema().defaultSize()
