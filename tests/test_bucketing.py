"""Bucketed co-located joins (SURVEY.md §4.3 / edges.py docstring: "at
cluster scale both sides would be bucketed on orderkey to make this
co-located"). This test makes that claim executable: write both fact
tables bucketed on the join key, join them, and assert the physical plan
has NO shuffle exchange on either side — the 100 TB lever where the
edge-derivation join (every GNN pipeline pass) stops paying its shuffle.

Also includes the rate-source smoke (§2B source_rate): the unbounded
synthetic source runs one micro-batch end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    # warehouse.dir is a static conf on a shared session; scope the database
    # to a temp LOCATION instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed LOCATION '{wh}'")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bucketed.lineitem_b")
    )
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("bucketed.orders_b")
    )
    yield wh
    spark.sql("DROP TABLE IF EXISTS bucketed.lineitem_b")
    spark.sql("DROP TABLE IF EXISTS bucketed.orders_b")
    spark.sql("DROP DATABASE IF EXISTS bucketed")


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    li_b = spark.table("bucketed.lineitem_b")
    o_b = spark.table("bucketed.orders_b")
    # disable broadcast so the join strategy must exploit bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey).select(
            "o_custkey", "l_suppkey", "l_extendedprice"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it still computes the right thing
        expect = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join over plain parquet pays two exchanges."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders")
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_rate_source_smoke(spark):
    """source_rate (§2B): the synthetic unbounded source produces rows
    through a streaming aggregation in one AvailableNow drain."""
    import tempfile

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    )
    agg = stream.groupBy().agg(F.count("*").alias("n"))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rate_smoke")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = spark.sql("SELECT * FROM rate_smoke").collect()
    assert len(got) == 1 and got[0]["n"] >= 0
