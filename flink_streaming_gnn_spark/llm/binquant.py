"""Binary quantization + Hamming-distance search (SURVEY.md north-star
"similarity search", the 1-bit tier): sign-quantize every embedding to
one bit per dimension — the 64-dim fixture packs into exactly ONE
BIGINT — and search by Hamming distance ``bit_count(xor(a, b))``, the
cheapest vector-search primitive there is (modern engines ship exactly
this as "binary quantization" / SimHash-for-vectors; random-hyperplane
LSH theory says Hamming ∝ angle in expectation).

``simsearch_binary_hamming``: for the bounded probe set, the top-K
nearest candidates by Hamming distance over the packed codes, with the
exact cosine of each surviving pair computed for re-ranking — the
candidates-from-cheap-tier + exact-rescore discipline
(``llm/dedup.py``'s LSH pattern at the bit level).

Spark-first shape: packing is ONE JVM ``aggregate`` over the embedding
array per row (map-only, 8 bytes of index per vector — a 64× space cut
over float32); the probe codes join in as a tiny broadcast literal
table; Hamming is ``bit_count`` on a single codegen'd XOR. At 100 TB
the packed-code table is the index you keep hot: scanning 1B codes is
8 GB — memory-speed brute force, no training, no cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.functions.arrays import cosine_expr, cosine_sql
from flink_streaming_gnn_spark.llm.vecsearch import top_k, topk_sql
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
N_PROBES = 20  # this key's own probe set (llm.vecsearch: probe set, tie order)
TOP_K = 10


HALF = DIM // 2  # 32 sign bits per code half: no sign-bit/HUGEINT hazards


def _half_code(col: str, start: int):
    """Sign-bit pack of dims [start, start+HALF) as a binary Horner fold
    (acc·2 + bit, sequential left-to-right — identical in both engines);
    bit set iff embedding[i] > 0 (strict: zeros and negatives are 0)."""
    bits = F.transform(
        F.slice(F.col(col).cast("array<double>"), start, HALF),
        lambda x: F.when(x > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc * 2 + x)


def simsearch_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _half_code("embedding", 1).alias("lo"),
        _half_code("embedding", HALF + 1).alias("hi"),
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
    )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("lo").alias("c_lo"),
        F.col("hi").alias("c_hi"),
    )
    scored = (
        cands.join(F.broadcast(probes), F.col("probe_id") != F.col("cand_id"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("p_lo").bitwiseXOR(F.col("c_lo")))
                + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("c_hi")))
            ).cast("long"),
        )
    )
    return (
        top_k(scored, F.col("hamming"), TOP_K)
        .select(
            "probe_id",
            "cand_id",
            "hamming",
            "rank",
            F.round(F.expr(cosine_expr("p_emb", "c_emb")), 6).alias("cos"),
        )
        .orderBy("probe_id", "rank")
    )


def _binham_oracle_sql() -> str:
    # identical binary Horner fold per half; DuckDB list_reduce seeds the
    # accumulator with the FIRST element, which equals the 0-init fold here
    # because 0·2 + b1 = b1
    def pack(start: int) -> str:
        return (
            f"list_reduce(list_transform(embedding[{start}:{start + HALF - 1}], "
            "x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), "
            "(acc, x) -> acc * 2 + x)"
        )

    return f"""
        WITH coded AS (
            SELECT vec_id, embedding,
                   {pack(1)} AS lo,
                   {pack(HALF + 1)} AS hi
            FROM embeddings
        ),
        scored AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                   CAST(bit_count(xor(p.lo, c.lo))
                        + bit_count(xor(p.hi, c.hi)) AS BIGINT) AS hamming,
                   {cosine_sql("p.embedding", "c.embedding")} AS cos
            FROM coded p JOIN coded c ON p.vec_id <> c.vec_id
            WHERE p.vec_id < {N_PROBES}
        ),
        ranked AS ({topk_sql("scored", "hamming", TOP_K)})
        SELECT probe_id, cand_id, hamming, rank, round(cos, 6) AS cos
        FROM ranked
        ORDER BY probe_id, rank
    """


QUERIES = {"simsearch_binary_hamming": simsearch_binary_hamming}
ORACLE = {"simsearch_binary_hamming": _binham_oracle_sql()}
