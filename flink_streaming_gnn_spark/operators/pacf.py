"""Partial autocorrelation via Durbin–Levinson (SURVEY.md §2B timeseries
family, the AR-order-selection companion of ``ts_autocorrelation``):
PACF at lags 1..K of the daily demand series — the diagnostic that tells
a forecaster how many AR terms a series actually needs (the PACF cuts
off at the true order; the ACF only tails off).

Exact cross-engine discipline: the Durbin–Levinson recursion

    φ_{k,k} = (r_k − Σ_{j<k} φ_{k−1,j}·r_{k−j}) / (1 − Σ_{j<k} φ_{k−1,j}·r_j)
    φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}

is unrolled LEVEL BY LEVEL as named columns on a one-row frame (Spark:
one ``select`` per recursion step; DuckDB: one chained CTE per step),
from expression strings GENERATED ONCE and shared verbatim by both
engines — identical IEEE expression trees over identical inputs. The
level-wise form keeps AUTHORED expressions linear in K (a fully
inlined closed form grows ~10× per lag: 17 KB at K=5, megabytes by
K=7 — measured before this shape replaced it; Catalyst may still
inline across the selects, so K is capped where one-time codegen
stays cheap: ~2.5 s warm / ~8 s first-plan at K=5). The only
cross-engine divergence is the last-ulp of the r_k input sums,
absorbed by 6 dp rounding.

Scale shape: ONE distributed aggregation collapses the fact table to
the calendar-bounded daily series; the K+1 autocovariances all ride one
window sort (K lag taps) and one final aggregate; the recursion itself
is scalar arithmetic on a single row. Autocovariances use the standard
biased estimator c_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄), r_k = c_k/c_0, with
x̄ the full-series mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.plans import truncate
from flink_streaming_gnn_spark.sources.tables import load_table

K_LAGS = 5


def _dl_steps(k_max: int) -> list[list[tuple[str, str]]]:
    """Durbin–Levinson as levels of (column_name, sql_expr-over-previous-
    columns) pairs. Level k has the φ_{k,k} step first, then the φ_{k,j}
    updates (which reference φ_{k,k}) — two sub-steps because the updates
    depend on the new pivot. Shared verbatim by both engines."""
    levels: list[list[tuple[str, str]]] = [[("phi_1_1", "r1")]]
    for k in range(2, k_max + 1):
        num = f"r{k}"
        den = "1"
        for j in range(1, k):
            num += f" - phi_{k - 1}_{j} * r{k - j}"
            den += f" - phi_{k - 1}_{j} * r{j}"
        levels.append([(f"phi_{k}_{k}", f"({num}) / ({den})")])
        levels.append(
            [
                (
                    f"phi_{k}_{j}",
                    f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}",
                )
                for j in range(1, k)
            ]
        )
    return levels


def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        F.sum("l_quantity").alias("x")
    )
    mean = daily.agg(F.avg("x").alias("xbar"))
    w = Window.orderBy("day")
    centered = daily.join(F.broadcast(mean)).select(
        (F.col("x") - F.col("xbar")).alias("d"),
        *[
            (F.lag("x", k).over(w) - F.col("xbar")).alias(f"d{k}")
            for k in range(1, K_LAGS + 1)
        ],
    )
    covs = centered.agg(
        F.sum(F.col("d") * F.col("d")).alias("c0"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"c{k}")
            for k in range(1, K_LAGS + 1)
        ],
    )
    cur = covs.select(
        *[(F.col(f"c{k}") / F.col("c0")).alias(f"r{k}") for k in range(1, K_LAGS + 1)]
    )
    for level in _dl_steps(K_LAGS):
        cur = cur.select(
            "*", *[F.expr(sql).alias(name) for name, sql in level]
        )
    rows = cur.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.round(F.col(f"r{k}"), 6).alias("acf"),
                        F.round(F.col(f"phi_{k}_{k}"), 6).alias("pacf"),
                    )
                    for k in range(1, K_LAGS + 1)
                ]
            )
        ).alias("s")
    )
    return rows.select("s.lag", "s.acf", "s.pacf").orderBy("lag")


def _pacf_oracle() -> str:
    lag_cols = ",\n                   ".join(
        f"lag(x, {k}) OVER (ORDER BY day) - avg(x) OVER () AS d{k}"
        for k in range(1, K_LAGS + 1)
    )
    cov_cols = ",\n                   ".join(
        f"sum(d * d{k}) AS c{k}" for k in range(1, K_LAGS + 1)
    )
    r_cols = ", ".join(f"c{k} / c0 AS r{k}" for k in range(1, K_LAGS + 1))
    levels = _dl_steps(K_LAGS)

    def level(i: int) -> str:
        cols = ", ".join(f"{sql} AS {name}" for name, sql in levels[i - 1])
        return f"lvl{i} AS (SELECT *, {cols} FROM lvl{i - 1})"

    chain = truncate.unroll(f"lvl0 AS (SELECT {r_cols} FROM covs)", level, len(levels))
    last = f"lvl{len(levels)}"
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, round(r{k}, 6) AS acf,"
        f" round(phi_{k}_{k}, 6) AS pacf FROM {last}"
        for k in range(1, K_LAGS + 1)
    )
    return f"""
        WITH daily AS (
            SELECT date_trunc('day', l_shipdate) AS day, sum(l_quantity) AS x
            FROM lineitem GROUP BY 1
        ),
        centered AS (
            SELECT x - avg(x) OVER () AS d,
                   {lag_cols}
            FROM daily
        ),
        covs AS (
            SELECT sum(d * d) AS c0,
                   {cov_cols}
            FROM centered
        ),
        {chain}
        {selects}
        ORDER BY lag
    """


QUERIES = {"ts_pacf_durbin_levinson": ts_pacf_durbin_levinson}
ORACLE = {"ts_pacf_durbin_levinson": _pacf_oracle()}
