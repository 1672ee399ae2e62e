"""Streaming incremental connected components — the 14th end-to-end
streaming key, and the streaming-GRAPH capability a streaming-GNN engine
(reference §2A A1/A2: each lineitem row is one edge event with an event
time) is actually about: maintain component labels across micro-batches
of ARRIVING EDGES, never recomputing from the raw edge log.

Per micro-batch the maintained state is the star forest ``(v, lbl)`` —
every seen vertex pointing at its component's min vertex id. A new batch
of edges is unioned with the CONTRACTED prior state (each label row is
one edge v—lbl of a depth-1 star), and the hash-min loop
(graph/components.hash_min_cc — the exact code the batch key runs)
re-converges. Correctness is structural: CC(star-contraction(G₁) ∪ E₂)
= CC(G₁ ∪ E₂), so after the last batch the labels equal the batch
answer on the full edge set — which is why this key reuses the batch
key's EXACT unrolled hash-min DuckDB oracle verbatim.

Scale posture: per-batch work is O(|state| + |batch|), not O(|edge
log|) — the whole point of incremental maintenance; the prior state is
a depth-1 star forest, so re-convergence rounds are bounded by the
CHAINING the new batch introduces (≈log of the longest new merge
chain), not the raw graph diameter. State lives as a parquet label
frame per version (the foreachBatch CDC discipline of
``streaming/cdc.py``), partitioned on v — at 1000 executors both the
state scan and the union shuffle on the same vertex key. Replay chunks
are SHIP-DATE range-ordered (the replay.py mtime discipline), so edges
arrive in event-time order like a real edge stream; CC is
arrival-order-invariant, so batching never changes the fixpoint.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.components import (
    ORACLE as _BATCH_ORACLE,
    component_summary,
    hash_min_cc,
)
from flink_streaming_gnn_spark.graph.edges import (
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans.truncate import release_superseded_checkpoints
from flink_streaming_gnn_spark.sources.scratch import (
    ephemeral_dir,
    fixture_fingerprint,
    scratch_dir,
)
from flink_streaming_gnn_spark.sources.tables import table_path
from flink_streaming_gnn_spark.streaming.replay import (
    drain,
    write_time_ordered_chunks,
)

FILES_PER_TRIGGER = 2  # -> 4 micro-batches over the fixture


def edges_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-source view of the DERIVED edge table: the lineitem ⋈
    orders edge events re-chunked into ship-date-ordered parquet ranges,
    built once per process from the fixture and gone at exit (the
    events_stream discipline, replay.py / sources/scratch.py)."""
    chunk_dir = scratch_dir(
        "edge_chunks",
        fixture_fingerprint(
            table_path(sf_dir, "lineitem"), table_path(sf_dir, "orders")
        ),
        lambda staging: write_time_ordered_chunks(
            derive_edges(spark, sf_dir).select("src", "dst", "ts"),
            ["ts", "src", "dst"],
            staging,
        ),
    )
    return (
        spark.readStream.schema("src long, dst long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(chunk_dir)
    )


def merge_batch(prior_labels: DataFrame | None, batch_und: DataFrame) -> DataFrame:
    """One incremental step: hash-min CC over (star-contraction of the
    prior labels ∪ the new undirected batch edges). Pure — the unit the
    cross-batch merge test drives on synthetic chains."""
    und = batch_und
    if prior_labels is not None:
        prior = prior_labels.select(F.col("v").alias("a"), F.col("lbl").alias("b"))
        und = und.union(both_directions(prior))
    return hash_min_cc(und)


def _newest_version(state_root: str, below: int | None = None) -> str | None:
    """Path of the newest label version ``v<k>`` under ``state_root``
    (only ``k < below`` when given), or None if there is none."""
    ks = [int(d[1:]) for d in os.listdir(state_root) if d[:1] == "v" and d[1:].isdigit()]
    ks = [k for k in ks if below is None or k < below]
    return os.path.join(state_root, f"v{max(ks)}") if ks else None


def versioned_apply(state_root: str) -> Callable[[DataFrame, int], None]:
    """The foreachBatch step of ``stream_cc_e2e``: micro-batch ``batch_id``
    merges its edges into the newest version ``v<k>`` with ``k <
    batch_id`` under ``state_root`` and writes ``v<batch_id>`` with
    overwrite. The prior state is read from DISK, never held in Python,
    which is what makes a restart from the checkpoint correct: a re-run
    batch overwrites its own version and rebuilds from its true
    predecessor."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior = _newest_version(state_root, below=batch_id)
        # star edges both ways; root self-loops keep isolated-rooted
        # vertices alive in the endpoint-derived init set
        labels = merge_batch(
            batch_df.sparkSession.read.parquet(prior) if prior else None,
            both_directions(bipartite_pairs(batch_df)),
        )
        out = os.path.join(state_root, f"v{batch_id}")
        labels.write.mode("overwrite").parquet(out)

    return apply_batch


@release_superseded_checkpoints
def stream_cc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained component labels over the streamed edge
    events; returns the per-component summary of the FINAL state — equal
    to the batch ``graph_connected_components`` answer by construction
    (module docstring), so the batch key's exact oracle applies. The
    last micro-batch's hash_min_cc labels checkpoint is released at exit
    like every iterative kernel's. The label versions live in a per-call
    scratch dir, removed at interpreter exit."""
    state_root = ephemeral_dir("cc_state")
    os.makedirs(state_root)
    drain(edges_stream(spark, sf_dir), "append", versioned_apply(state_root))
    return component_summary(spark.read.parquet(_newest_version(state_root)))


QUERIES = {"stream_cc_e2e": stream_cc_e2e}
# final incremental state == batch CC on the full edge set — the batch
# key's exact unrolled hash-min oracle applies verbatim
ORACLE = {"stream_cc_e2e": _BATCH_ORACLE["graph_connected_components"]}
