"""Distributed Lloyd k-means over the embedding corpus (SURVEY.md §2B —
the clustering pass IVF/PQ stand-ins reference; here it is the real
algorithm as a first-class operator).

Spark-first round (the classic big-data k-means split):
* ASSIGN is a pure JVM expression — squared-L2 distance to each of the K
  literal centroids via ``zip_with``·``aggregate`` folds, argmin via
  ``array_min`` over (dist, cl) structs (tie → lowest cl). Map-only,
  rides the scan inside whole-stage codegen; centroids travel in the
  plan, not in a join.
* UPDATE is one hash aggregate keyed (cluster, dim) after a posexplode —
  the shuffle carries K·d partial means (512 rows here) regardless of
  corpus size, and the driver collects exactly that bounded table to
  refresh the literals for the next round (same bounded-driver-read
  discipline as the BPE argmax / training loops).

Determinism across engines: the seeded init centroids are
data-independent literals (the ``ivf_centroids`` trick), and every
round's updated centroids are rounded to 6 dp in BOTH engines before
re-use, so last-ulp mean-accumulation differences cannot drift the
fixpoint; argmin flips would need two centroids equidistant to ~1e-16,
which the fixture cannot produce. The DuckDB oracle unrolls the ROUNDS
assign/update rounds over a long-form (cluster, dim, value) centroid
table and must reproduce the Spark output hash exactly.

Empty clusters keep their previous centroid (standard Lloyd fallback),
expressed as COALESCE in both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.llm.simsearch import ivf_centroids
from flink_streaming_gnn_spark.plans import truncate
from flink_streaming_gnn_spark.sources.tables import load_table

K_CLUSTERS = 8
ROUNDS = 3
SEED = 13
OUT_DIMS = 4  # leading centroid coordinates exposed in the output


def _init_centroids() -> np.ndarray:
    return ivf_centroids(n_cells=K_CLUSTERS, seed=SEED)


def _assign_col(cents: list[list[float]]) -> F.Column:
    """argmin_c ‖x − c‖² as one JVM expression tree."""
    entries = []
    for i, c in enumerate(cents):
        d2 = F.aggregate(
            F.zip_with("e", F.lit([float(v) for v in c]), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        entries.append(F.struct(d2.alias("d2"), F.lit(i).alias("cl")))
    return F.array_min(F.array(*entries))["cl"]


def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = [[float(v) for v in row] for row in _init_centroids()]
    dim = len(cents[0])
    for _ in range(ROUNDS):
        assigned = e.withColumn("cl", _assign_col(cents))
        means = (
            assigned.select("cl", F.posexplode("e").alias("d", "x"))
            .groupBy("cl", "d")
            .agg(F.round(F.avg("x"), 6).alias("v"))
            .collect()  # ≤ K·d rows (512) — geometry-bounded driver read
        )
        got = {(r["cl"], r["d"]): r["v"] for r in means}
        cents = [
            [got.get((c, d), cents[c][d]) for d in range(dim)]
            for c in range(K_CLUSTERS)
        ]
    final = e.withColumn("cl", _assign_col(cents))
    counts = final.groupBy("cl").agg(F.count("*").cast("long").alias("n"))
    lead = [
        F.element_at(F.lit([cents[c][d] for c in range(K_CLUSTERS)]), F.col("cluster").cast("int") + 1).alias(f"c{d + 1}")
        for d in range(OUT_DIMS)
    ]
    base = spark.createDataFrame(
        [(c,) for c in range(K_CLUSTERS)], schema="cluster long"
    )
    return (
        base.join(counts, base.cluster == counts.cl, "left")
        .select(
            "cluster",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            *lead,
        )
        .orderBy("cluster")
    )


def _kmeans_oracle_sql(rounds: int = ROUNDS) -> str:
    cents = _init_centroids()
    dim = cents.shape[1]
    arr_rows = " UNION ALL ".join(
        f"SELECT {c} AS cl, [{', '.join(repr(float(v)) for v in cents[c])}]::DOUBLE[] AS cent"
        for c in range(K_CLUSTERS)
    )

    def assignment(r: int) -> str:
        """dist{r} and assign{r}: each vector's nearest centroid of c{r - 1}."""
        return f"""dist{r} AS MATERIALIZED (
            SELECT ex.vec_id, c.cl, sum((ex.x - c.v) * (ex.x - c.v)) AS d2
            FROM ex JOIN c{r - 1} c ON c.d = ex.d
            GROUP BY ex.vec_id, c.cl
        ),
        assign{r} AS MATERIALIZED (
            SELECT vec_id, cl FROM (
                SELECT vec_id, cl,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
                FROM dist{r}
            ) WHERE rn = 1
        )"""

    chain = truncate.unroll(
        f"""emb AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        ex AS MATERIALIZED (
            SELECT vec_id, gs.i AS d, e[gs.i] AS x
            FROM emb CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) gs
        ),
        c0arr AS ({arr_rows}),
        c0 AS MATERIALIZED (
            SELECT cl, gs.i AS d, cent[gs.i] AS v
            FROM c0arr CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) gs
        )""",
        lambda r: f"""{assignment(r)},
        mean{r} AS MATERIALIZED (
            SELECT a.cl, ex.d, round(avg(ex.x), 6) AS mv
            FROM assign{r} a JOIN ex ON ex.vec_id = a.vec_id
            GROUP BY a.cl, ex.d
        ),
        c{r} AS MATERIALIZED (
            SELECT p.cl, p.d, COALESCE(m.mv, p.v) AS v
            FROM c{r - 1} p LEFT JOIN mean{r} m ON m.cl = p.cl AND m.d = p.d
        )""",
        rounds,
    )
    lead = ",\n               ".join(
        f"max(CASE WHEN c.d = {d + 1} THEN c.v END) AS c{d + 1}"
        for d in range(OUT_DIMS)
    )
    return f"""
        WITH {chain},
        {assignment(rounds + 1)},
        counts AS (
            SELECT cl, CAST(count(*) AS BIGINT) AS n
            FROM assign{rounds + 1} GROUP BY cl
        )
        SELECT c.cl AS cluster,
               COALESCE(any_value(counts.n), 0) AS n,
               {lead}
        FROM c{rounds} c LEFT JOIN counts ON counts.cl = c.cl
        GROUP BY c.cl
        ORDER BY c.cl
    """


QUERIES = {"ml_kmeans_lloyd": ml_kmeans_lloyd}
ORACLE = {"ml_kmeans_lloyd": _kmeans_oracle_sql()}
