"""Batch parquet sources for the test corpus (TESTDATA.md / FIXTURES.md).

Reference analogue: the dataset loader operators (SURVEY.md §2A A1) that
read edge/event streams into the dataflow. Spark-first: ``spark.read
.parquet`` gives a columnar scan with predicate pushdown and column
pruning for free; no custom reader code is needed or wanted.
"""

from __future__ import annotations

import os
import stat as stat_mod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _content_sig(path: str) -> int:
    """Content signature for memo invalidation. For a single-file table
    the file's mtime_ns suffices. For a DIRECTORY table (scaled corpora,
    Spark-written fixtures, partitioned layouts) a directory's mtime only
    changes when entries are added/removed — an in-place rewrite of a
    part file's CONTENT would not bump it (ADVICE r9), and a stale memo
    would serve a stale file index (wrong lengths → truncated reads).
    Fold every entry's (relative path, size, mtime_ns) into the
    signature, at every depth, so any rewrite invalidates. Metadata of a
    few dozen to a few hundred entries, never data."""
    st = os.stat(path)
    if not stat_mod.S_ISDIR(st.st_mode):
        return st.st_mtime_ns
    return hash((st.st_mtime_ns, tuple(sorted(_tree_entries(path)))))


def _tree_entries(path: str, prefix: str = ""):
    with os.scandir(path) as it:
        for e in it:
            es = e.stat()
            yield prefix + e.name, es.st_size, es.st_mtime_ns
            if e.is_dir():
                yield from _tree_entries(e.path, f"{prefix}{e.name}/")


# Inferred-schema memo, keyed on (realpath, content signature). Schema
# inference is the expensive half of ``spark.read.parquet`` — it can
# launch a footer-reading job per call (round-9 floor profile: ~320 ms
# inferred vs ~90 ms with an explicit schema on this box), and every
# query constructs its scans fresh 1–4 times per timed run. This memo
# caches METADATA only (a StructType, session-independent plain Python):
# the relation, plan and results are bit-identical — the first read per
# (path, content) still infers, later reads pass the same schema
# explicitly. The content key invalidates on in-place rewrites, for
# directory tables too (pinned in tests/test_schema_memo.py).
_SCHEMA_CACHE: dict[tuple[str, int], "object"] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (os.path.realpath(path), _content_sig(path))
    except OSError:
        return spark.read.parquet(path)  # let Spark raise its own error
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


# Resolved-DataFrame memo, stored AS AN ATTRIBUTE ON the SparkSession
# object and keyed on (table name, realpath, content signature). One
# step past the schema memo: even with an explicit schema, every
# ``read.parquet`` call pays relation construction — file listing
# (InMemoryFileIndex) plus a dozen Py4J round-trips — measured at
# ~90 ms/call on this box, and each timed bench run re-constructs 1–4
# scans per query. A DataFrame is an immutable logical plan, so handing
# the SAME object back is what a catalog table (or any production job
# that builds its frames once per session) already does: METADATA reuse
# only. Every action still runs the full scan+compute from the parquet
# inputs — no rows, no results, nothing derived from data persists here,
# and nothing survives the process.
#
# Why an attribute and not a WeakKeyDictionary keyed on the session
# (round 9's shape): the cached DataFrames strongly reference their
# SparkSession, and a WeakKeyDictionary whose VALUES reference their
# keys never discards those entries (the documented weakref caveat) — a
# stopped session and its memoized plans would be retained for process
# lifetime (ADVICE r9). As a plain attribute the memo is an ordinary
# session→dict→DataFrame→session reference cycle, which the cyclic GC
# collects as soon as the session object is dropped.
_DF_MEMO_ATTR = "_graft_df_memo"


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a lazily-scanned DataFrame.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read it as a long (legacy conf) and
    rebuild a microsecond TimestampType column (truncation, matching how
    µs-native engines read ns parquet). Everything else is a plain scan
    with pushdown/pruning intact.

    Repeat calls for the same (table, fixture content) on the same session
    return the same DataFrame object (see ``_DF_MEMO_ATTR``) — identical
    plan, identical results, minus the per-call relation-construction
    floor.
    """
    path = table_path(sf_dir, name)
    try:
        key = (name, os.path.realpath(path), _content_sig(path))
    except OSError:
        return _load_table_uncached(spark, sf_dir, name)
    per_session = getattr(spark, _DF_MEMO_ATTR, None)
    if per_session is None:
        per_session = {}
        setattr(spark, _DF_MEMO_ATTR, per_session)
    df = per_session.get(key)
    if df is None:
        df = _load_table_uncached(spark, sf_dir, name)
        per_session[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every corpus table as a lazily-scanned DataFrame.

    Scans are lazy: Catalyst prunes columns and pushes filters into the
    parquet reader per-query, so loading "all tables" costs nothing until
    an action touches them.
    """
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for the SQL entry point."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
