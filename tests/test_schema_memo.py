"""Round-9 floor optimization: load_table's inferred-schema memo.

The memo (sources/tables.py::_SCHEMA_CACHE) skips parquet schema INFERENCE
on repeat constructions of the same table — metadata only; the relation,
plan and rows must be bit-identical to a fresh inferred read. Pinned here:

1. repeat loads return the same schema/rows as the first (memo hit path);
2. the memo is keyed on content (path + mtime): rewriting a table in place
   invalidates the entry instead of serving a stale schema;
3. the events ts-rebuild (nanos → µs timestamp) survives the memo.

Round-9 E5 extends the same discipline one level up: load_table memoizes
the resolved DataFrame per (session, table, content) — same object back,
so the per-call relation-construction floor (file listing + Py4J) is paid
once per session. Pinned below: identity on repeat loads, and that the
in-place-rewrite invalidation (test 3) holds for the DataFrame memo too
(a stale hit there would serve the old projection's columns).

Round 10 (ADVICE r9): the DF memo moved from a WeakKeyDictionary (whose
values strongly referenced their key, so entries were never discarded)
to an attribute on the session object, and the content signature now
folds DIRECTORY tables' entry (name, size, mtime) — an in-place part-file
rewrite that does not bump the directory mtime must still invalidate.
Both pinned below.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
import weakref

from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources import tables
from flink_streaming_gnn_spark.sources.tables import load_table, table_path
from tests.conftest import SF_SMOKE


def _clear_df_memo(spark) -> None:
    getattr(spark, tables._DF_MEMO_ATTR, {}).clear()


def test_memo_hit_identical_schema_and_rows(spark):
    tables._SCHEMA_CACHE.clear()
    _clear_df_memo(spark)
    first = load_table(spark, SF_SMOKE, "customer")
    assert (os.path.realpath(table_path(SF_SMOKE, "customer")),) == tuple(
        k[0] for k in tables._SCHEMA_CACHE
    ), "first load must populate the memo"
    second = load_table(spark, SF_SMOKE, "customer")  # memo-hit path
    assert second.schema == first.schema
    a = first.orderBy("c_custkey").collect()
    b = second.orderBy("c_custkey").collect()
    assert a == b


def test_events_ts_rebuild_survives_memo(spark):
    """events is the one table with a read-time type fixup (nanos → µs
    rebuild when the fixture is TIMESTAMP(NANOS)); whatever the fixture's
    encoding, the memo-hit load must equal the fresh inferred load."""
    tables._SCHEMA_CACHE.clear()
    _clear_df_memo(spark)
    fresh = load_table(spark, SF_SMOKE, "events")  # populates the memo
    hit = load_table(spark, SF_SMOKE, "events")  # memo hit
    assert hit.dtypes == fresh.dtypes
    assert dict(hit.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    n_fresh = fresh.filter(F.col("ts").isNotNull()).count()
    assert hit.filter(F.col("ts").isNotNull()).count() == n_fresh > 0


def test_inplace_rewrite_invalidates(spark, tmp_path):
    src = table_path(SF_SMOKE, "nation")  # a single parquet file
    dst = os.path.join(str(tmp_path), "nation.parquet")
    shutil.copy(src, dst)
    sf_dir = str(tmp_path)
    tables._SCHEMA_CACHE.clear()
    _clear_df_memo(spark)
    n1 = load_table(spark, sf_dir, "nation")
    cols1 = set(n1.columns)
    # rewrite the table in place with a different schema (projection)
    n1.select("n_nationkey", "n_name").write.mode("overwrite").parquet(dst + ".new")
    os.remove(dst)
    os.rename(dst + ".new", dst)
    # ensure mtime_ns actually moved (fs granularity)
    now = time.time_ns()
    os.utime(dst, ns=(now, now))
    n2 = load_table(spark, sf_dir, "nation")
    assert set(n2.columns) == {"n_nationkey", "n_name"} != cols1


def test_directory_table_content_rewrite_invalidates(spark, tmp_path):
    """ADVICE r9: for a DIRECTORY-style table, rewriting a part file's
    CONTENT in place (same entry set, so the directory mtime may not
    move) must invalidate the memo — a stale file index would serve
    wrong lengths. The signature folds per-entry (name, size, mtime)."""
    sf_dir = str(tmp_path)
    dst = os.path.join(sf_dir, "nation.parquet")  # directory-style table
    src = load_table(spark, SF_SMOKE, "nation")
    src.write.mode("overwrite").parquet(dst)
    tables._SCHEMA_CACHE.clear()
    _clear_df_memo(spark)
    n1 = load_table(spark, sf_dir, "nation")
    cols1 = set(n1.columns)
    n_rows1 = n1.count()
    # rewrite the PART FILES in place (projection, fewer rows), keeping
    # the directory's own mtime pinned so only the entry signature moves
    dir_stat = os.stat(dst)
    src.select("n_nationkey", "n_name").limit(5).write.mode("overwrite").parquet(
        dst + ".new"
    )
    shutil.rmtree(dst)
    os.rename(dst + ".new", dst)
    os.utime(dst, ns=(dir_stat.st_mtime_ns, dir_stat.st_mtime_ns))
    n2 = load_table(spark, sf_dir, "nation")
    assert set(n2.columns) == {"n_nationkey", "n_name"} != cols1
    assert n2.count() == 5 != n_rows1


def test_nested_part_file_rewrite_invalidates(spark, tmp_path):
    """ADVICE r10: the signature must reach part files one level down (a
    partitioned layout). Rewriting one in place changes no entry of the
    top directory, so a top-level-only signature would keep serving the
    memoized frame and its stale file index."""
    sf_dir = str(tmp_path)
    dst = os.path.join(sf_dir, "nation.parquet")
    src = load_table(spark, SF_SMOKE, "nation")
    src.write.partitionBy("n_regionkey").parquet(dst)
    tables._SCHEMA_CACHE.clear()
    _clear_df_memo(spark)
    n1 = load_table(spark, sf_dir, "nation")
    n_rows1 = n1.count()
    # one partition's part file, rewritten in place with two of its rows
    part_dir = os.path.join(dst, "n_regionkey=0")
    (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    new_dir = os.path.join(sf_dir, "new")
    src.filter("n_regionkey = 0").drop("n_regionkey").limit(2).coalesce(1).write.parquet(
        new_dir
    )
    (new_part,) = [f for f in os.listdir(new_dir) if f.endswith(".parquet")]
    dir_stat = os.stat(part_dir)
    shutil.copyfile(os.path.join(new_dir, new_part), os.path.join(part_dir, part))
    crc = os.path.join(part_dir, f".{part}.crc")  # the local FS would check it
    if os.path.exists(crc):
        os.remove(crc)
    os.utime(part_dir, ns=(dir_stat.st_mtime_ns, dir_stat.st_mtime_ns))
    n2 = load_table(spark, sf_dir, "nation")
    assert n2 is not n1, "memo served a frame over a rewritten part file"
    assert n2.count() == n_rows1 - 3  # region 0 holds 5 of the 25 nations


def test_df_memo_returns_same_object(spark):
    """E5: a repeat load on the same session IS the first DataFrame (the
    memo's whole point — zero relation re-construction), and a different
    table or a cleared memo yields a fresh object."""
    _clear_df_memo(spark)
    first = load_table(spark, SF_SMOKE, "customer")
    assert load_table(spark, SF_SMOKE, "customer") is first
    assert load_table(spark, SF_SMOKE, "orders") is not first
    _clear_df_memo(spark)
    assert load_table(spark, SF_SMOKE, "customer") is not first


def test_df_memo_dies_with_session_wrapper(spark):
    """ADVICE r9 retention fix: the memo must not outlive its session
    object. Under round 9's WeakKeyDictionary the memoized DataFrames
    (values) strongly referenced their session (key), so the entry —
    and every cached plan — was retained for process lifetime even
    after the session was dropped. As a session attribute the group is
    an ordinary reference cycle (session → dict → DataFrame → session):
    once the last external reference to the session wrapper goes, the
    cyclic GC reclaims all of it. Pinned on a throwaway newSession()
    wrapper (shares the JVM context; only the Python wrapper and its
    memo are under test).

    One reference the memo does NOT control: pyspark's own
    ``_monkey_patch_RDD`` installs ``RDD.toDF`` with a closure over the
    MOST RECENTLY constructed session (class-attribute lifetime), so the
    newest wrapper is always pinned by pyspark itself. Creating one more
    throwaway session displaces that pin before the assertion — the
    memo's own references are then the only thing that could keep the
    DataFrame alive, and they must not."""
    s2 = spark.newSession()
    df = load_table(s2, SF_SMOKE, "customer")
    assert load_table(s2, SF_SMOKE, "customer") is df  # memo active on s2
    ref = weakref.ref(df)
    del df, s2
    spark.newSession()  # displace pyspark's RDD.toDF pin on s2
    # a py4j callback or a finalizer can hold the cycle through one
    # collection; a retained memo survives any number of them
    for _ in range(5):
        gc.collect()
        if ref() is None:
            break
    assert ref() is None, (
        "memoized DataFrame outlived its session wrapper. If the memo holds no "
        "reference, check pyspark's RDD.toDF session pin: _monkey_patch_RDD "
        "closes over the most recently constructed session, and this test "
        "displaces it with one more newSession()"
    )
