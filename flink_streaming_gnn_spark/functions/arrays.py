"""Array / higher-order function family (SURVEY.md §2B fn_array,
fn_array_dot).

``fn_array_dot`` is the engine's tensor primitive — the relational form of
the reference's ND4J vector math (/root/reference/README.md:2 "DL4J"):
dot product and cosine similarity over ``ArrayType(FloatType)`` columns via
``zip_with`` + ``aggregate`` higher-order functions, entirely JVM-side.
Both engines fold left-to-right over 64 elements in float64, then round —
drift-free at the comparison boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table

# dot(a, b) after casting both arrays to double, in Spark and in DuckDB
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def dot_expr(a: str, b: str) -> str:
    """Spark SQL expression: float-array dot product in double precision."""
    return _DOT.format(a=a, b=b)


def cosine_expr(a: str, b: str) -> str:
    """Spark SQL expression: cosine similarity in double precision."""
    return (
        f"{dot_expr(a, b)} / (sqrt({dot_expr(a, a)}) * sqrt({dot_expr(b, b)}))"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine_expr`` over the lists ``a`` and ``b``."""
    dot = _DUCK_DOT.format
    return f"({dot(a=a, b=b)} / (sqrt({dot(a=a, b=a)}) * sqrt({dot(a=b, b=b)})))"


def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(tokens).cast("long").alias("n_tokens"),
        F.array_contains(tokens, "select").alias("has_select"),
        F.size(F.array_distinct(tokens)).cast("long").alias("n_distinct_tokens"),
        F.expr(
            "CAST(aggregate(transform(split(text, ' '), t -> length(t)), 0,"
            " (acc, v) -> acc + v) AS BIGINT)"
        ).alias("total_token_chars"),
        F.expr("size(filter(split(text, ' '), t -> length(t) > 6))")
        .cast("long")
        .alias("n_long_tokens"),
        F.element_at(F.array_sort(F.array_distinct(tokens)), 1).alias("first_token_sorted"),
        F.expr("CAST(array_max(transform(split(text, ' '), t -> length(t))) AS BIGINT)").alias(
            "max_token_len"
        ),
    )


def fn_array_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot/cosine between consecutive embedding vectors (vec_id, vec_id+1)."""
    e1 = load_table(spark, sf_dir, "embeddings").alias("e1")
    e2 = load_table(spark, sf_dir, "embeddings").alias("e2")
    pairs = e1.join(e2, F.col("e1.vec_id") + 1 == F.col("e2.vec_id")).select(
        F.col("e1.vec_id").alias("vec_a"),
        F.col("e2.vec_id").alias("vec_b"),
        F.col("e1.embedding").alias("emb_a"),
        F.col("e2.embedding").alias("emb_b"),
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(F.expr(dot_expr("emb_a", "emb_b")), 4).alias("dot_ab"),
        F.round(F.expr(cosine_expr("emb_a", "emb_b")), 4).alias("cos_ab"),
        F.round(F.sqrt(F.expr(dot_expr("emb_a", "emb_a"))), 4).alias("norm_a"),
    )


QUERIES = {"fn_array": fn_array, "fn_array_dot": fn_array_dot}

ORACLE = {
    "fn_array": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_contains(string_split(text, ' '), 'select') AS has_select,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
               CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
                    AS BIGINT) AS total_token_chars,
               CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 6))
                    AS BIGINT) AS n_long_tokens,
               list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token_sorted,
               CAST(list_max(list_transform(string_split(text, ' '), t -> length(t)))
                    AS BIGINT) AS max_token_len
        FROM documents
    """,
    "fn_array_dot": f"""
        SELECT e1.vec_id AS vec_a,
               e2.vec_id AS vec_b,
               round({_DUCK_DOT.format(a='e1.embedding', b='e2.embedding')}, 4) AS dot_ab,
               round({cosine_sql('e1.embedding', 'e2.embedding')}, 4) AS cos_ab,
               round(sqrt({_DUCK_DOT.format(a='e1.embedding', b='e1.embedding')}), 4) AS norm_a
        FROM embeddings e1
        JOIN embeddings e2 ON e1.vec_id + 1 = e2.vec_id
    """,
}
