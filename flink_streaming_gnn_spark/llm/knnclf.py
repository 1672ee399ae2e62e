"""k-NN label classification over the embedding column (SURVEY.md
north-star "similarity search" applied to labeling — the
nearest-neighbor classifier a curation pipeline uses to propagate
labels from a seed set to an unlabeled corpus).

Semantics: the probes of the vector-search kit (``llm.vecsearch``: probe
set and tie order) are classified by majority label of their K=5 nearest
reference vectors (every non-probe vector) by cosine; the vote breaks
ties by count DESC, then label ASC.

Spark-first shape: the kit's exact partial top-K scorer runs over the
reference rows — one BLAS matmul per candidate batch, each task emits only
its own top-K per probe, and the ``top_k`` window merges
|tasks|·|probes|·K rows. Labels join in broadcast-gated; votes are one
(probe, label) hash agg + one ranking window. Classifying the whole corpus
belongs to the IVF cell-join tier (``simsearch_ivf``) with identical
downstream voting, not to the closure scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import cosine_sql
from flink_streaming_gnn_spark.llm.vecsearch import N_PROBES, brute_topk, top_k, topk_sql
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

K_NEIGHBORS = 5


def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = brute_topk(emb, K_NEIGHBORS, cands=emb.filter(F.col("vec_id") >= N_PROBES))
    topk = top_k(scored, F.col("cos").desc(), K_NEIGHBORS)
    labels = maybe_broadcast(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("nbr_label"))
    )
    votes = (
        topk.join(labels, "cand_id")
        .groupBy("probe_id", "nbr_label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label")
    )
    pred = (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select("probe_id", F.col("nbr_label").alias("pred_label"), "n_votes")
    )
    truth = maybe_broadcast(
        emb.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label"))
    )
    return (
        pred.join(truth, "probe_id")
        .select(
            F.col("probe_id").alias("vec_id"),
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("is_correct"),
        )
        .orderBy("vec_id")
    )


QUERIES = {"ml_knn_classify": ml_knn_classify}

ORACLE = {
    "ml_knn_classify": f"""
        WITH probes AS (
            SELECT vec_id, embedding, label FROM embeddings
            WHERE vec_id < {N_PROBES}
        ),
        refs AS (
            SELECT vec_id, embedding, label FROM embeddings
            WHERE vec_id >= {N_PROBES}
        ),
        scored AS (
            SELECT p.vec_id AS probe_id, r.vec_id AS cand_id, r.label,
                   {cosine_sql("p.embedding", "r.embedding")} AS cos
            FROM probes p, refs r
        ),
        topk AS ({topk_sql("scored", "cos DESC", K_NEIGHBORS)}),
        votes AS (
            SELECT probe_id, label AS nbr_label,
                   CAST(count(*) AS BIGINT) AS n_votes
            FROM topk GROUP BY probe_id, label
        ),
        pred AS (
            SELECT probe_id, nbr_label AS pred_label, n_votes
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY n_votes DESC, nbr_label
                       ) AS rv
                FROM votes
            ) WHERE rv = 1
        )
        SELECT pred.probe_id AS vec_id,
               p.label AS true_label,
               pred.pred_label,
               pred.n_votes,
               pred.pred_label = p.label AS is_correct
        FROM pred JOIN probes p ON p.vec_id = pred.probe_id
        ORDER BY vec_id
    """,
}
