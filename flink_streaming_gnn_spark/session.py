"""SparkSession factory with the engine's physical configuration.

SURVEY.md §4.3: AQE on, Arrow on, UTC session timezone (so timestamps agree
with the UTC-naive DuckDB oracle), shuffle partitions sized to cores instead
of the 200 default. At cluster scale the same builder is used with
``master`` unset (picked up from spark-submit) and shuffle partitions sized
to input volume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(physical_bytes: int) -> str:
    """Half the machine's memory, at most 24g: a local-mode heap ceiling
    above physical memory grows until the OOM killer ends the JVM."""
    return f"{max(1, min(24, physical_bytes // 2**31))}g"


DEFAULT_DRIVER_MEM = default_driver_memory(
    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
)


def get_spark(
    app_name: str = "flink_streaming_gnn_spark",
    cpus: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a real cluster the ``master`` line is a
    no-op override via spark-submit. Every config here survives a 1000-
    executor deployment: AQE handles skew/coalescing at runtime, Arrow
    keeps the Python boundary vectorized, UTC keeps event-time math stable.
    The SQL confs stay settable per session through ``spark.conf.set``.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # Scan-split size follows the same sizing rule as shuffle
        # partitions: fixtures here are ~100 MB, so the 128 MB default
        # collapses scans to one task and starves the other 31 cores —
        # 16 MB keeps every core fed. A 100 TB deployment raises it back
        # to 128 MB+ with spark.conf.set (fewer, fuller tasks; the
        # scheduler, not the split size, is the parallelism source there).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # ContextCleaner only releases per-query broadcast/shuffle state
        # after a driver GC processes the weak references; with a heap of
        # several GiB a session can go MANY queries between collections,
        # and later queries slow 10× under the accumulated state (measured
        # in bench.py — see _time_best). The default periodicGC.interval of
        # 30min is tuned for clusters, not a 200-query single-JVM session;
        # 2min keeps the cleaner fed with negligible pause cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # RocksDB state store: at 100M events the default HDFSBacked
        # provider killed the whole 24 GiB JVM under stream_windowed_topk —
        # it keeps EVERY partition's state map in heap, and ~50M
        # (window, user) entries plus retained versions exceed it. RocksDB
        # holds state off-heap and disk-backed, so per-query memory is a
        # bounded block cache and state size scales with disk, not heap;
        # the re-run finished topk at ×100 in 263 s.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Parquet codec for everything the engine WRITES (spools, sinks,
        # scratch, blown corpora): zstd is smaller than snappy at similar
        # read speed, and on the disk-bound ×1000 ladder the ratio is the
        # difference between fitting the sandbox disk budget and ENOSPC.
        # No timed headline query writes parquet (noop sink); results are
        # codec-independent. The SHUFFLE codec stays Spark's lz4: shuffle
        # bytes sit in page cache here, and an order-reversed ×10 A/B
        # (tools/ab_r9_zstd_reversed.log at e924de5) had lz4 win or tie
        # every pairing (pagerank lz4 29.6/31.6 s vs zstd 39.5/33.1 s).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Single-JVM large-state robustness: at 10⁸-row streaming state a
        # >10 s full GC of a large heap (measured with 24g) or a host stall
        # missed the 10s default executor heartbeat (RpcTimeout → executor
        # declared dead → SparkContext shut down mid-stream;
        # tools/probe_r9_soak_x100.log at eaf89d2, first attempt).
        # 30s/600s are the standard large-heap settings; timeouts change
        # no plan.
        .config("spark.executor.heartbeatInterval", "30s")
        .config("spark.network.timeout", "600s")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM),
        )
        # ANSI mode off: engine follows classic Spark SQL null-on-error
        # semantics, matching the permissive oracle comparisons.
        .config("spark.sql.ansi.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{n}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
