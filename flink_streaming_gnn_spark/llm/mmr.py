"""Maximal Marginal Relevance diversified retrieval (SURVEY.md
north-star "similarity search" tier, next to ``simsearch_cosine_knn``:
Carbonell & Goldstein 1998) — re-rank a relevance-ordered candidate
pool so the selected set is both relevant AND mutually diverse:

    MMR(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s),

greedily picking argmax K times. This is the standard diversification
pass a retrieval/curation pipeline runs between ANN search and final
selection (dedup-by-meaning of the retrieved context).

Spark-first shape: the corpus-sized work — cosine relevance against the
broadcast query vector and the top-``POOL`` cut — is one map pass plus
a global ``orderBy().limit()`` top-POOL, planned as
TakeOrderedAndProject (per-task POOL + driver merge, no global sort). The greedy loop then runs on
the POOL×d candidate block driver-side — geometry-bounded (24×64
floats, the ``ml_kmeans_lloyd`` bounded-collect discipline), invariant
to corpus size by construction.

Engine-exact selection: relevances and pairwise sims are rounded to
6 dp FIRST (both engines agree on the rounded grid — the repo-wide
cosine-hash discipline), the MMR score is then a single IEEE expression
over those grid values, and every argmax tie-breaks on vec_id — so the
greedy trajectory is deterministic and the DuckDB oracle (the full
K-step greedy unrolled as chained CTEs) hash-matches the whole
selection, not just its shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import cosine_expr
from flink_streaming_gnn_spark.plans import truncate
from flink_streaming_gnn_spark.sources.tables import load_table

QUERY_ID = 0
POOL = 24
K = 8
LAM = 0.7
# diversity complement defined ONCE as its own literal, not computed as
# 1 - LAM (which is 0.30000000000000004 in binary float): both the Python
# greedy loop and the generated oracle SQL multiply by this exact constant,
# so near-tied MMR argmax comparisons agree to the last ulp (ADVICE r5).
MU = 0.3


def simsearch_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == QUERY_ID).head().embedding
    ]
    q_sql = "array(" + ",".join(f"{x!r}D" for x in qvec) + ")"
    rel = F.expr(cosine_expr("cast(embedding as array<double>)", q_sql))
    scored = emb.filter(F.col("vec_id") != QUERY_ID).select(
        "vec_id", "embedding", F.round(rel, 6).alias("rel")
    )
    # exact GLOBAL top-POOL via orderBy().limit() — TakeOrderedAndProject
    # (per-task POOL + driver merge); a rank-filter window here would
    # single-reduce the whole corpus (WindowGroupLimit only fires on
    # partitioned windows — the sample_weighted_ares lesson)
    pool = scored.orderBy(
        F.col("rel").desc(), "vec_id"
    ).limit(POOL).collect()  # bounded: POOL rows by construction
    ids = [r.vec_id for r in pool]
    rels = {r.vec_id: r.rel for r in pool}
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in pool}

    def sim6(a: int, b: int) -> float:
        va, vb = vecs[a], vecs[b]
        return round(
            float(va @ vb) / (float(np.sqrt(va @ va)) * float(np.sqrt(vb @ vb))),
            6,
        )

    selected: list[tuple[int, int, float, float]] = []  # rank, id, rel, mmr
    chosen: list[int] = []
    remaining = sorted(ids)
    for rank in range(1, K + 1):
        best = None
        for c in remaining:
            if rank == 1:
                score = rels[c]
            else:
                score = LAM * rels[c] - MU * max(
                    sim6(c, s) for s in chosen
                )
            if best is None or score > best[0] or (score == best[0] and c < best[1]):
                best = (score, c)
        score, c = best
        selected.append((rank, c, rels[c], round(score, 6)))
        chosen.append(c)
        remaining.remove(c)
    return spark.createDataFrame(
        selected, "rank long, vec_id long, relevance double, mmr_score double"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _mmr_oracle() -> str:
    # pick 1 is the most relevant candidate; round r is pick r + 1
    picks = truncate.unroll(
        """sel1 AS MATERIALIZED (
            SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
                   rel AS mmr
            FROM cand ORDER BY rel DESC, vec_id LIMIT 1
        ),
        all1 AS MATERIALIZED (SELECT * FROM sel1)""",
        lambda r: f"""sel{r + 1} AS MATERIALIZED (
            SELECT CAST({r + 1} AS BIGINT) AS rank, c.vec_id, c.rel,
                   {LAM} * c.rel - {MU} * max(s.s) AS mmr
            FROM cand c
            JOIN sims s ON s.ia = c.vec_id
                       AND s.ib IN (SELECT vec_id FROM all{r})
            WHERE c.vec_id NOT IN (SELECT vec_id FROM all{r})
            GROUP BY c.vec_id, c.rel
            ORDER BY mmr DESC, c.vec_id LIMIT 1
        ),
        all{r + 1} AS MATERIALIZED (SELECT * FROM all{r} UNION ALL SELECT * FROM sel{r + 1})""",
        K - 1,
    )
    cos_q = _cos_sql("CAST(c.embedding AS DOUBLE[])", "q.v")
    cos_ab = _cos_sql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")
    return f"""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id = {QUERY_ID}
        ),
        cand AS MATERIALIZED (
            SELECT c.vec_id, c.embedding, {cos_q} AS rel
            FROM embeddings c, q
            WHERE c.vec_id <> {QUERY_ID}
            ORDER BY rel DESC, c.vec_id LIMIT {POOL}
        ),
        sims AS MATERIALIZED (
            SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS s
            FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        ),
        {picks}
        SELECT rank, vec_id, rel AS relevance, round(mmr, 6) AS mmr_score
        FROM all{K}
        ORDER BY rank
    """


QUERIES = {"simsearch_mmr_diversify": simsearch_mmr_diversify}
ORACLE = {"simsearch_mmr_diversify": _mmr_oracle()}
