"""The near-dup kit shared by the dedup keys (``llm.dedup``,
``llm.containment``, the image groups of ``llm.matryoshka`` and the
n-gram windows of ``llm.pipeline``). Every near-dup key has one shape:
collapse exact clones, build candidates with a banded equi-join, verify
the candidates exactly, report per clone group. The parts of that shape
are written here once, as Spark frames and as their DuckDB twins; a key
keeps only its feature, its band choice, its verify predicate and its
``QUERIES``/``ORACLE`` entries.

Exact-clone collapse. Identical rows (same text hash, same
``(label, embedding)``, same image hash) share every feature, so they
share every signature, every band and every verify score. Run on raw
ids, the candidate stage therefore emits every within-clone pair:
Θ(clones²) rows on a replicated corpus, which is what crashed or ground
for an hour at the ×10 probes of the minhash, embedding, containment and
image keys. ``clone_groups`` collapses each clone set to
``(key…, rep_id = min(id), n = member count)`` first, and all machinery
after it runs on representatives, bounded by distinct content.

Group-output contract. A key that keeps group granularity reports one
row per qualifying representative pair ``(group_a, group_b, value, n_a,
n_b)`` plus one self row ``(rep, rep, self_value, n, n)`` per clone group
of size ≥ 2 (``group_pairs``). It holds the same information as the
doc-level pair list (a cross row stands for n_a·n_b doc pairs, a self row
for the n·(n−1) within-group pairs) in output linear in distinct content.
A pipeline that needs doc granularity joins the rows back through the
member mapping (``clone_members``) on just the rows it consumes.

Shingles. ``shingles`` gives the ordered ``n``-token windows of a token
array, joined by one space; ``shingles_sql`` is the same list in DuckDB
(Spark's ``concat_ws`` over ``slice`` and DuckDB's ``array_to_string``
over a list slice give the same string). A caller keeps rows with at
least ``n`` tokens: a shorter array would give a descending ``sequence``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table


def keyed_texts(spark: SparkSession, sf_dir: str, min_tokens: int = 0) -> DataFrame:
    """``documents`` as ``(doc_id, text, th = xxhash64(text))``, the text
    clone key; with ``min_tokens``, only docs of at least that many tokens."""
    d = load_table(spark, sf_dir, "documents")
    if min_tokens:
        d = d.withColumn("toks", F.split("text", " ")).filter(F.size("toks") >= min_tokens)
    return d.select("doc_id", "text", F.xxhash64("text").alias("th"))


def clone_groups(frame: DataFrame, id_col: str, *key_cols: str) -> DataFrame:
    """The exact-clone collapse: ``(key…, rep_id = min(id_col), n)`` per
    distinct key. A caller that reads the groups more than once pins them
    itself, before ``clone_members`` reads them."""
    return frame.groupBy(*key_cols).agg(
        F.min(id_col).alias("rep_id"), F.count("*").cast("long").alias("n")
    )


def clone_members(
    frame: DataFrame, groups: DataFrame, id_col: str, *key_cols: str
) -> tuple[DataFrame, DataFrame]:
    """``(members, reps)``: the member mapping ``(id_col, rep_id)`` of every
    row of ``frame``, and the representative rows themselves (``frame``'s
    columns without the key), through one broadcast-gated join."""
    keyed = frame.join(maybe_broadcast(groups.select(*key_cols, "rep_id")), list(key_cols))
    members = keyed.select(id_col, "rep_id")
    reps = keyed.filter(F.col(id_col) == F.col("rep_id")).drop("rep_id", *key_cols)
    return members, reps


def band_pairs(frame: DataFrame, id_col: str, bands: Sequence[Column]) -> DataFrame:
    """Candidate pairs ``(a, b)``, ``a < b``, of rows that agree on at least
    one band: explode ``(band_idx, value)`` structs, self-equi-join on both,
    keep each pair once. Cost follows the rows sharing a band value, never
    the cross product."""
    ex = frame.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band_idx"), v.alias("value"))
                    for k, v in enumerate(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.value")
    a = ex.select(F.col(id_col).alias("a"), "band_idx", "value")
    b = ex.select(F.col(id_col).alias("b"), "band_idx", "value")
    return (
        a.join(b, ["band_idx", "value"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def group_pairs(
    rep_pairs: DataFrame, groups: DataFrame, value_col: str, self_value: float
) -> DataFrame:
    """The group-output contract over verified representative pairs
    ``(group_a, group_b, value_col)``: both member counts joined on, plus
    one ``self_value`` self row per group of size ≥ 2."""
    size_a = groups.select(F.col("rep_id").alias("group_a"), F.col("n").alias("n_a"))
    size_b = groups.select(F.col("rep_id").alias("group_b"), F.col("n").alias("n_b"))
    cross = (
        rep_pairs.join(maybe_broadcast(size_a), "group_a")
        .join(maybe_broadcast(size_b), "group_b")
        .select("group_a", "group_b", value_col, "n_a", "n_b")
    )
    selfp = groups.filter(F.col("n") >= 2).select(
        F.col("rep_id").alias("group_a"),
        F.col("rep_id").alias("group_b"),
        F.lit(self_value).alias(value_col),
        F.col("n").alias("n_a"),
        F.col("n").alias("n_b"),
    )
    return cross.unionByName(selfp)


def shingles(toks: str, n: int) -> Column:
    """The ordered ``n``-token windows of the array column ``toks``."""
    return F.expr(
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n})))"
    )


def shingle_sets(frame: DataFrame, id_col: str, n: int) -> DataFrame:
    """``(id_col, sh)``: the distinct ``n``-token shingles of the ``text`` of
    every row of ``frame`` with at least ``n`` tokens."""
    return (
        frame.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= n)
        .select(id_col, F.array_distinct(shingles("toks", n)).alias("sh"))
    )


# --- DuckDB twins ---------------------------------------------------------


def shingles_sql(t: str, n: int) -> str:
    """Twin of ``shingles`` over the DuckDB list ``t``."""
    return (
        f"list_transform(generate_series(1, len({t}) - {n - 1}),"
        f" i -> array_to_string({t}[i:i + {n - 1}], ' '))"
    )


def shingle_sets_sql(source: str, id_col: str, n: int) -> str:
    """Twin of ``shingle_sets`` over the relation ``source``."""
    return f"""
        SELECT {id_col}, list_distinct({shingles_sql("t", n)}) AS sh
        FROM (SELECT {id_col}, string_split(text, ' ') AS t FROM {source})
        WHERE len(t) >= {n}
    """


def clone_groups_sql(source: str, id_col: str, *key_cols: str) -> str:
    """Twin of ``clone_groups``: ``(key…, rep_id, n)`` over ``source``."""
    keys = ", ".join(key_cols)
    return f"""
        SELECT {keys}, min({id_col}) AS rep_id, CAST(count(*) AS BIGINT) AS n
        FROM {source} GROUP BY {keys}
    """


def group_pairs_sql(rep_pairs: str, groups: str, value_col: str, self_value: str) -> str:
    """Twin of ``group_pairs``: the final SELECT over the CTEs ``rep_pairs``
    ``(group_a, group_b, value_col)`` and ``groups`` (``clone_groups_sql``)."""
    return f"""
        SELECT p.group_a, p.group_b, p.{value_col}, a.n AS n_a, b.n AS n_b
        FROM {rep_pairs} p
        JOIN {groups} a ON a.rep_id = p.group_a
        JOIN {groups} b ON b.rep_id = p.group_b
        UNION ALL
        SELECT rep_id, rep_id, {self_value}, n, n FROM {groups} WHERE n >= 2
    """
