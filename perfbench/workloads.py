"""The benchmark's workloads: which registry keys run, on what input scale.

Each workload is a fixed key set run as one closed-loop client: a pass
calls every key once, in an order drawn from the run's seed, and each call
is followed by a noop-sink materialization of the returned frame.

Every run is one fresh JVM, so each run pays the JVM start and its warm-up
passes before it measures anything: 15-45 s on 4 cores, depending on how
busy the machine is. The key sets and scales are sized so that a pass takes
5-10 s, a run holds several calls of every key, and the full set of
repeated runs of both workloads still finishes in under an hour.

Scale labels end up in the corpus directory name (``.../sf<label>``),
which the graph kernels read: a label <= 0.01 selects the verify-scale
round count that their DuckDB twins are written for.
"""

from __future__ import annotations

from dataclasses import dataclass

# Every run makes at least this many timed passes, and the end-to-end
# metrics use only these. A key's CPU time per call still drifts over a run
# (down by about a fifth on headline, up by a quarter on stream_graph). A
# faster host fits more passes into --seconds, so a median over all passes
# would read a different point of that drift.
REPORTED_PASSES = 3


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    sf: float
    why: str
    # untimed passes before the timed ones; the first also hashes outputs
    warmup_passes: int = 1


WORKLOADS: dict[str, Workload] = {
    "headline": Workload(
        keys=(
            "agg_pricing_summary",
            "join_3way_revenue",
            "window_topk_per_group",
            "tumbling_window_events",
            "graph_2hop_neighbor_agg",
            "semi_anti",
            "text_tokenize_tf",
            "vector_knn_cosine",
            "dedup_exact",
            "sessionize_approx",
        ),
        sf=0.02,
        why=(
            "the ten batch keys of the historic headline: read-only and bound "
            "by DSL construction, Catalyst and job scheduling, not by tasks"
        ),
    ),
    "stream_graph": Workload(
        keys=(
            "stream_tumbling_append_e2e",
            "graph_connected_components",
        ),
        sf=0.002,
        # a stream's second call in a JVM still ran 20-60% over its later
        # calls, so one more untimed pass
        warmup_passes=2,
        why=(
            "a watermarked streaming aggregation (micro-batches, state store, "
            "spool writes) and connected components (a driver loop of small jobs)"
        ),
    ),
}
