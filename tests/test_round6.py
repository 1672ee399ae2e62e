"""Round-6 hardening tests.

NULL-discipline (ADVICE r5 #3, generalized): the distributed-cumsum
rank statistics (`dq_mann_whitney`, `dq_ks_drift`) filter
``value IS NOT NULL`` in BOTH formulations because the engines disagree
on NULL sort order (Spark first, DuckDB last) and a NULL group would
silently land in bucket 0 of the quantile-boundary bucketing. The
corpus fixtures carry no NULLs, so the driver differential can never
exercise the divergence — these tests build a fixture WITH NULL values
and run the full Spark-vs-DuckDB differential on it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare_frames


@pytest.fixture(scope="module")
def nullable_events_dir(spark, tmp_path_factory):
    """A copy of the smoke events fixture with NULL `value` rows mixed
    into both compared event types (and a NULL-value row of an excluded
    type, to catch over-filtering)."""
    from pyspark.sql import functions as F

    from flink_streaming_gnn_spark.sources.tables import load_table

    out = str(tmp_path_factory.mktemp("nullable_sf"))
    ev = load_table(spark, SF_SMOKE, "events")
    nulled = ev.limit(40).withColumn(
        "value",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    ev.unionByName(nulled).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def _differential(spark, sf_dir: str, key: str):
    from flink_streaming_gnn_spark import registry

    spark_pdf = registry.all_queries()[key](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'events.parquet')}/*.parquet'"
    )
    oracle_pdf = con.execute(registry.all_oracle_sql()[key]).df()
    return compare_frames(spark_pdf, oracle_pdf, key)


def test_mann_whitney_null_values_differential(spark, nullable_events_dir):
    problems = _differential(spark, nullable_events_dir, "dq_mann_whitney")
    assert not problems, problems


def test_ks_drift_null_values_differential(spark, nullable_events_dir):
    problems = _differential(spark, nullable_events_dir, "dq_ks_drift")
    assert not problems, problems


def test_embedding_cosine_group_contract_planted(spark, tmp_path):
    # the corpus fixtures contain no cos≥0.9 pairs and no duplicate
    # embeddings (0 rows at sf0.01 AND sf0.1), so the driver hash can
    # never value-exercise the round-6 group contract — this fixture
    # plants exact clone groups AND a cross-group near-dup pair, then
    # runs the full Spark-vs-DuckDB differential
    import numpy as np

    rs = np.random.RandomState(7)
    base = rs.randn(6, 8)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base[0] + 0.01 * rs.randn(8)  # near-dup of base[0]
    near /= np.linalg.norm(near)
    rows = []
    vid = 0
    for i, v in enumerate(base):
        for _ in range(3 if i < 2 else 1):  # groups 0,1 have 3 clones
            rows.append((vid, int(i % 2), [float(x) for x in v]))
            vid += 1
    rows.append((vid, 0, [float(x) for x in near]))  # same label as base[0]
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )

    from flink_streaming_gnn_spark import registry

    spark_pdf = (
        registry.all_queries()["dedup_embedding_cosine"](spark, str(tmp_path))
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(str(tmp_path), 'embeddings.parquet')}/*.parquet'"
    )
    oracle_pdf = con.execute(
        registry.all_oracle_sql()["dedup_embedding_cosine"]
    ).df()
    problems = compare_frames(spark_pdf, oracle_pdf, "dedup_embedding_cosine")
    assert not problems, problems
    # must actually contain both row kinds: 2 self rows (the 3-clone
    # groups) and ≥1 cross pair (the planted near-dup)
    self_rows = spark_pdf[spark_pdf.group_a == spark_pdf.group_b]
    cross_rows = spark_pdf[spark_pdf.group_a != spark_pdf.group_b]
    assert len(self_rows) == 2 and set(self_rows.n_a) == {3}
    assert len(cross_rows) >= 1 and (cross_rows.cos >= 0.9).all()


def test_null_rows_actually_present(spark, nullable_events_dir):
    # guard: the fixture must really contain NULL values for the two
    # compared types, or the tests above prove nothing
    from pyspark.sql import functions as F

    from flink_streaming_gnn_spark.sources.tables import load_table

    ev = load_table(spark, nullable_events_dir, "events")
    n = (
        ev.filter(
            F.col("value").isNull()
            & F.col("event_type").isin(["click", "view"])
        )
    ).count()
    assert n > 0
