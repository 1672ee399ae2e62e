"""Deterministic stream replay of the ``events`` fixture (SURVEY.md §5.2#3),
and the engine's one stream drain.

Reference analogue: the bounded-rate edge/event stream sources (§2A A1).
Spark-first: a file stream over the same parquet + ``Trigger.AvailableNow``
gives an exactly-replayable unbounded-source simulation — every micro-batch
boundary is deterministic, so streamed results can be asserted equal to the
batch twin on the same fixture (the test the reference never had).

The drain contract
------------------
``drain(stream_df, output_mode, sink, checkpoint=None)`` is the only place
the engine starts a streaming query. It runs ``foreachBatch(sink)`` under
``Trigger.AvailableNow`` and blocks until every input available at start
has been processed; the sink is the terminal operator of the dataflow.

* **Modes.** ``complete``, ``update`` or ``append``, passed to Spark
  unchanged; the sink sees each micro-batch's emission in that mode.
* **Checkpoint lifetime.** Without ``checkpoint`` the query runs on a
  temporary checkpoint directory that is removed when ``drain`` returns.
  A caller passes its own directory only when the checkpoint must outlive
  the call: the restart tests (tests/test_round8.py) stop a stream after
  one trigger and resume it from that directory, the CDC exactly-once
  test re-drains a finished stream against it, and scd2 reads its final
  keyed state back through the ``statestore`` data source
  (``run_update_spooled_with_state``).
* **Spool layout.** ``run_{append,update,complete}_spooled`` are ``drain``
  with a parquet-spool sink in a per-call ``sources/scratch.ephemeral_dir``
  (removed at interpreter exit; the lazily read result stays valid for the
  session). Complete mode overwrites the spool root on every trigger, so
  the last trigger leaves exactly the final result. Append and update
  modes write ``b<batch_id>`` per micro-batch, with overwrite: foreachBatch
  is exactly-once only if the sink is idempotent, and a micro-batch re-run
  after a checkpoint restart then replaces its own output instead of
  duplicating it (ADVICE r9). The union of the batch dirs is the stream's
  emission; for update mode a key's final row is the one with the
  largest value of the operator's monotone column (``running_count``,
  ``seq``, ``last_ts_epoch``).
* **Why a spool, not Spark's memory sink.** Every emitted row goes through
  executor-side parquet writes, never the driver. Measured on the memory
  sink this engine drained through until round 9:
  - complete mode re-collects the ENTIRE result into the driver every
    trigger — the ×100 probe killed stream_session_e2e that way
    (TaskResultGetter blowup at ~10⁸ events);
  - append mode pins every emitted row in a session-lifetime temp table
    that nothing drops — the ×100 single-JVM soak measured up to ~16 GiB
    of live driver heap after the append-drained e2e keys had finished
    (the ×100 outer-join output alone held ~12 GiB);
  - update mode keeps ~|keys|·|triggers| rows in the driver — the ×10
    probe measured ~90 s of pure driver ingestion for the 10M-row scd2
    emission.
"""

from __future__ import annotations

import glob
import os
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from flink_streaming_gnn_spark.sources.scratch import (
    ephemeral_dir,
    fixture_fingerprint,
    scratch_dir,
)
from flink_streaming_gnn_spark.sources.tables import load_table


def write_time_ordered_chunks(frame: DataFrame, order: list[str], staging: str) -> None:
    """Write ``frame`` into ``staging`` as 8 EVENT-TIME ORDERED parquet
    chunks: ``repartitionByRange`` on ``order`` (event time first, then
    tiebreak columns) splits it into contiguous time ranges, and each
    chunk file's mtime is bumped monotonically so the file source (which
    orders by modification time) replays them in event-time order — a
    real stream is approximately time-ordered, and only then are watermark
    semantics deterministic (hash-chunked replay made every batch after
    the first arrive mostly behind the watermark, so late-drop became an
    accident of which keys hashed into the first file)."""
    (
        frame.repartitionByRange(8, *order)
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .parquet(staging)
    )
    # part-0000i corresponds to the i-th range; pin the source's
    # processing order by giving each range a strictly increasing mtime
    base = int(time.time())
    for i, p in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
        os.utime(p, (base + i, base + i))


def events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded-source view of the events fixture.

    Re-chunks the single fixture parquet into several time-ordered files
    first (``write_time_ordered_chunks``) so the file source produces
    multiple micro-batches (real incremental state updates, not one giant
    batch).

    Chunks are built ONCE PER PROCESS from the parquet fixture and die
    with the process (sources/scratch.py — round 10 removed the
    digest-keyed cross-run /tmp cache this used to keep; a fresh run must
    derive everything from the fixture inputs).
    """
    chunk_dir = scratch_dir(
        "events_chunks",
        "v2-tsorder:" + fixture_fingerprint(os.path.join(sf_dir, "events.parquet")),
        lambda staging: write_time_ordered_chunks(
            load_table(spark, sf_dir, "events"), ["ts", "event_id"], staging
        ),
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    # chunks were rewritten by Spark (µs timestamps) so a plain schema works
    return reader.parquet(chunk_dir)


def drain(
    stream_df: DataFrame,
    output_mode: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
) -> None:
    """Run ``stream_df`` to completion: ``foreachBatch(sink)`` under
    ``Trigger.AvailableNow``, blocking until drained. The checkpoint is a
    temporary directory removed on return unless the caller passes one
    (module docstring)."""
    if checkpoint is None:
        with tempfile.TemporaryDirectory(prefix="graft_stream_ckpt_") as tmp:
            drain(stream_df, output_mode, sink, tmp)
        return
    (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_append_spooled(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Append-mode spool drain for DATA-SIZED emission streams (dedup key
    sets, watermark-closed windows, stream–stream join output): the
    result is the union of every micro-batch's emission, read back
    lazily."""
    return _spool(stream_df, query_name, "append")


def run_complete_spooled(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Complete-mode spool drain whose RESULT is data-sized (e.g. per-user
    session windows — rows grow with the corpus): the last trigger's full
    re-emission, read back lazily."""
    return _spool(stream_df, query_name, "complete")


def run_update_spooled(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Update-mode spool drain for HIGH-VOLUME emission streams (e.g. the
    event-sized SCD2 history): every per-key update of every
    micro-batch, read back lazily (one columnar scan)."""
    return _spool(stream_df, query_name, "update")


def run_update_spooled_with_state(
    stream_df: DataFrame, query_name: str
) -> tuple[DataFrame, str]:
    """run_update_spooled, additionally keeping the checkpoint directory
    until process exit (a per-call scratch dir, like the spool) and
    returning it alongside the result, so the caller can read the drained
    query's FINAL keyed state back through Spark 4's ``statestore`` data
    source — a genuine drain-time state readout (VERDICT r6 "Next round"
    #6).

    A separate function, not a flag: a flag-dependent return shape
    (DataFrame vs tuple) is easy to mis-unpack from new call sites
    (ADVICE r7)."""
    ckpt = ephemeral_dir(f"stream_ckpt_{query_name}")
    return _spool(stream_df, query_name, "update", ckpt), ckpt


def _spool(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str,
    checkpoint: str | None = None,
) -> DataFrame:
    spool = ephemeral_dir(f"stream_spool_{query_name}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # complete: overwrite the root with the full re-emission;
        # append/update: overwrite this micro-batch's own dir (idempotent
        # under a post-restart re-run, module docstring)
        if output_mode == "complete":
            batch_df.write.mode("overwrite").parquet(spool)
        else:
            batch_df.write.mode("overwrite").parquet(os.path.join(spool, f"b{batch_id}"))

    drain(stream_df, output_mode, sink, checkpoint)
    return _read_spool(stream_df.sparkSession, spool, stream_df.schema)


def _read_spool(spark: SparkSession, spool: str, schema: T.StructType) -> DataFrame:
    """Read a drained parquet spool back; a stream whose availableNow
    drain fired ZERO batches (empty source) never wrote the spool, so
    return an empty frame with the stream's schema instead of letting
    spark.read.parquet raise path-not-found (ADVICE r8).

    The stream's own schema is passed explicitly (the spool was written
    from exactly this stream, so it matches by construction) and the
    lookup is recursive: append/update spools hold one ``b<batch_id>``
    sub-dir per micro-batch, complete spools are flat — one reader covers
    both, with no footer-inference job and no partition-column misparse
    of the ``bN`` names (recursiveFileLookup disables partition
    discovery)."""
    if not os.path.isdir(spool):
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(spool)
    )
