"""Johnson–Lindenstrauss random projection (Achlioptas 2003 dense
Gaussian variant) — the dimensionality-reduction step an embedding
pipeline runs before ANN indexing or clustering at scale: project
64-dim vectors to ``OUT_DIM`` dims with a data-independent matrix that
preserves pairwise distances within (1±ε) w.h.p.

The projection matrix is DETERMINISTIC (seeded, rounded to 6 dp) and
inlined as literals into both engines, so the key is an exact oracle
check of the real projection arithmetic — the literal-weight discipline
of ``graph/layers.py``, whose ``dot``/``sql_list`` pair it uses, with the
JL scale 1/sqrt(OUT_DIM) in place of the layers' 0.1. Each output channel
is one zip_with/aggregate dot product (JVM higher-order functions, per-row
codegen, no UDF, no shuffle: the operator is map-only and scales
embarrassingly at any corpus size — the entire point of JL over PCA,
which needs a covariance pass; cf. ``emb_pca_covariance``).

Output rounded to 6 dp.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.layers import dot, sql_list
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 16


def jl_matrix() -> np.ndarray:
    """Seeded Gaussian projection, scaled by 1/sqrt(OUT_DIM), 6 dp."""
    rs = np.random.RandomState(51)
    return np.round(rs.randn(OUT_DIM, DIM) / np.sqrt(OUT_DIM), 6)


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = jl_matrix()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("feat")
    )
    return emb.select(
        "vec_id",
        # "+ 0.0": the negative-zero rule of graph/layers.py
        *[
            (F.round(dot("feat", w[j]), 6) + 0.0).alias(f"p{j}")
            for j in range(OUT_DIM)
        ],
    )  # no orderBy: keeps the plan exchange-free (map-only); the driver
    #    compare is order-insensitive


def _jl_oracle_sql() -> str:
    w = jl_matrix()
    p_cols = ",\n               ".join(
        f"round(list_dot_product(CAST(embedding AS DOUBLE[]), {sql_list(w[j])}), 6) + 0.0 AS p{j}"
        for j in range(OUT_DIM)
    )
    return f"""
        SELECT vec_id,
               {p_cols}
        FROM embeddings
    """


QUERIES = {"emb_random_projection": emb_random_projection}
ORACLE = {"emb_random_projection": _jl_oracle_sql()}
