"""Shared fixtures: one SparkSession per test run, DuckDB oracle connection
with the corpus tables registered as views (mirroring the driver harness).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_streaming_gnn_spark.session import get_spark
from flink_streaming_gnn_spark.sources.tables import TABLES, table_path

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def _host_sized_driver_mem() -> str:
    """Half the host's memory, capped at the engine's 24g default. One JVM
    serves the whole test run; with a heap ceiling above physical memory it
    keeps growing until the kernel's OOM killer ends it mid-suite."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{min(24, max(2, half_gib))}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _host_sized_driver_mem())
    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_ORACLE, name)}')"
        )
    yield con
    con.close()
