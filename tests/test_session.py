"""The session factory runs one configuration: deployment settings come
from five environment variables, everything else is a constant.

The pinned values each carry a measured reason (see the comments in
``session.py``): RocksDB state, zstd parquet output, 16 MiB scan splits,
and the large-heap heartbeat/network timeouts.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "flink_streaming_gnn_spark"

DEPLOYMENT_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_ON_CLUSTER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_TEST_SF_DIR",
}


def test_session_constants(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.streaming.stateStore.providerClass") == (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert conf.get("spark.sql.parquet.compression.codec") == "zstd"
    assert conf.get("spark.sql.files.maxPartitionBytes") == str(16 * 1024 * 1024)
    assert conf.get("spark.executor.heartbeatInterval") == "30s"
    assert conf.get("spark.network.timeout") == "600s"


def test_engine_reads_only_deployment_env_vars():
    found = set()
    for path in PKG.rglob("*.py"):
        found.update(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert found == DEPLOYMENT_VARS


def test_default_driver_memory_is_half_the_machine_up_to_24g():
    from flink_streaming_gnn_spark.session import default_driver_memory

    gib = 2**30
    assert default_driver_memory(16 * gib) == "8g"
    assert default_driver_memory(15 * gib + gib // 2) == "7g"
    assert default_driver_memory(48 * gib) == "24g"
    assert default_driver_memory(256 * gib) == "24g"
    assert default_driver_memory(gib) == "1g"
