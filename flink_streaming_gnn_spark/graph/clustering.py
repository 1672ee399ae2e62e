"""Local clustering coefficient on the supplier co-order projection
(SURVEY.md §2B graph ops; completes the triangle family of
``graph/triangles.py``).

Semantics: for each projected vertex v with degree ≥ 2,

    cc(v) = 2 · T(v) / (deg(v) · (deg(v) − 1))

where T(v) counts triangles incident to v. The structural signal a GNN
cannot learn from 1-hop aggregation alone (triangles are 2-hop cycles),
and the classic "is this neighborhood a clique or a star" feature.

The key is a readout of ``triangles.per_vertex_triangles``, which
computes (degree, T(v)) for every vertex and chooses its own tier. The
division and rounding run JVM-side on that frame, so the emitted doubles
are the same whichever tier counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import SUPPLIER_PAIRS_CTE, supplier_edges
from flink_streaming_gnn_spark.graph.triangles import per_vertex_triangles


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = per_vertex_triangles(supplier_edges(spark, sf_dir))
    return pv.filter(F.col("degree") >= 2).select(
        F.col("v").alias("supplier"),
        "degree",
        F.col("tri").alias("n_triangles"),
        F.round(
            2.0 * F.col("tri") / (F.col("degree") * (F.col("degree") - 1)), 6
        ).alias("clustering"),
    )


QUERIES = {"graph_clustering_coefficient": graph_clustering_coefficient}

ORACLE = {
    "graph_clustering_coefficient": f"""
        WITH {SUPPLIER_PAIRS_CTE},
        deg AS (
            SELECT supplier, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT a AS supplier FROM pairs
                  UNION ALL SELECT b FROM pairs)
            GROUP BY supplier
        ),
        tris AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM pairs e1
            JOIN pairs e2 ON e2.a = e1.b
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tri_v AS (
            SELECT supplier, CAST(count(*) AS BIGINT) AS n_triangles
            FROM (SELECT a AS supplier FROM tris
                  UNION ALL SELECT b FROM tris
                  UNION ALL SELECT c FROM tris)
            GROUP BY supplier
        )
        SELECT CAST(deg.supplier AS BIGINT) AS supplier,
               deg.degree,
               COALESCE(tri_v.n_triangles, 0) AS n_triangles,
               round(2.0 * COALESCE(tri_v.n_triangles, 0)
                     / (deg.degree * (deg.degree - 1)), 6) AS clustering
        FROM deg LEFT JOIN tri_v ON tri_v.supplier = deg.supplier
        WHERE deg.degree >= 2
    """,
}
