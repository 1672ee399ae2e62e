"""N-gram CONTAINMENT near-dup detection with EXACT prefix filtering —
the doc-in-doc complement of ``dedup_ngram_jaccard`` (Jaccard misses a
short document quoted inside a long one: the union term swamps the
intersection; containment |sh(a) ∩ sh(b)| / |sh(a)| does not). This is
the C4/RefinedWeb-style "document substantially included in another"
detector a curation pipeline runs next to symmetric near-dup.

Candidate generation is the AllPairs / PPJoin PREFIX FILTER (Bayardo,
Ma & Srikant, WWW 2007; Xiao et al., WWW 2008), the exact (zero-miss)
scalable discipline: order every document's shingles by GLOBAL rarity
((corpus frequency, shingle) ascending); for containment threshold
T = 4/5, a pair with overlap ≥ o = ceil(4·|sh_a|/5) must share at
least one of the first |sh_a| − o + 1 RAREST shingles of a (the
non-prefix remainder holds only o − 1 elements, one fewer than the
required overlap), so joining a-prefixes against the full posting
lists provably generates every qualifying pair. Scale posture: prefix
entries are each document's rarest shingles, so the posting lists the
join probes are the SHORT tail of the frequency distribution — the
fan-out bound that makes AllPairs subquadratic in practice; the known
refinement (also prefix-filter the indexed side using a length bound)
is one more filter on the same plan.

Integer-exact thresholding: o and the verify condition use pure
integer arithmetic (``5·inter ≥ 4·|sh_a|`` and
``o = (4·|sh| + 4) div 5``), so there is no float-boundary case for
the two engines to disagree on; the emitted containment value is the
rounded ratio, computed identically in both.

Exact clones are collapsed first and the result is reported at group
level (the contract of ``llm.neardup``). This key once expanded it back
to the full directed doc-level pair list, and its ×10 probe then spent
most of its wall clock writing within-clone 1.0 rows.

The prefix filter's shingle order is computed over representatives —
correctness of the filter needs only a FIXED global order (the
pigeonhole argument never uses rarity; rarity is the fan-out
heuristic), so dedup'd frequencies are as valid as raw ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.llm.neardup import (
    clone_groups,
    clone_groups_sql,
    clone_members,
    group_pairs,
    group_pairs_sql,
    keyed_texts,
    shingle_sets,
    shingle_sets_sql,
)

# containment threshold T = CONT_NUM / CONT_DEN (integer-exact)
CONT_NUM, CONT_DEN = 4, 5


def _rep_containment_pairs(d: DataFrame) -> DataFrame:
    """Directed containment pairs over a (doc_id, sh) frame via exact
    prefix filtering (module docstring). Returns (group_a, group_b,
    containment)."""
    ex = d.select("doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").cast("long").alias("fr"))
    ranked = ex.join(freq, "s").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("fr", "s")
        ),
    )
    # o = ceil(T * sz) in integers; prefix = sz - o + 1 rarest shingles
    o = (F.lit(CONT_NUM) * F.col("sz") + F.lit(CONT_DEN - 1)) / F.lit(CONT_DEN)
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.floor(o).cast("long") + 1
    ).select(F.col("doc_id").alias("doc_a"), "s")
    full = ex.select(F.col("doc_id").alias("doc_b"), "s")
    cands = (
        prefix.join(full, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", inter)
        .withColumn("sz_a", F.size("sh_a").cast("long"))
        # integer-exact threshold: inter / sz_a >= 4/5
        .filter(F.col("inter") * CONT_DEN >= F.lit(CONT_NUM) * F.col("sz_a"))
        .select(
            F.col("doc_a").alias("group_a"),
            F.col("doc_b").alias("group_b"),
            F.round(F.col("inter") / F.col("sz_a"), 4).alias("containment"),
        )
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level near-containment: one row per qualifying pair of
    exact-clone groups (group keyed by its min-doc_id representative),
    trigram-shingle containment ≥ 4/5, with member counts — plus one
    containment=1.0 self row per clone group of size ≥ 2."""
    keyed = keyed_texts(spark, sf_dir, min_tokens=3)
    # pin the two clone-collapsed frames ONCE: both are linear in
    # DISTINCT content (reps only — 1/clones of the corpus), and the
    # prefix machinery references them ~5× each (freq, ranked, posting
    # list, and both verify sides); without the checkpoint every use
    # re-runs the full corpus scan + hash-group lineage, which is where
    # the round-5 ×10 probe spent 55 of its 68 s
    groups = clone_groups(keyed, "doc_id", "th").localCheckpoint()
    reps = clone_members(keyed, groups, "doc_id", "th")[1]
    rep_sh = shingle_sets(reps, "doc_id", 3).localCheckpoint()
    return group_pairs(_rep_containment_pairs(rep_sh), groups, "containment", 1.0).orderBy(
        "group_a", "group_b"
    )


QUERIES = {"dedup_containment": dedup_containment}

ORACLE = {
    # the oracle verifies ALL representative pairs (no prefix filter) — a
    # cross-formulation check that the prefix filter misses nothing,
    # which is exactly its zero-miss guarantee; groups are formed by raw
    # text equality (the hash-free formulation of the Spark side's
    # xxhash64 grouping)
    "dedup_containment": f"""
        WITH grp AS ({clone_groups_sql(
            "(SELECT doc_id, text FROM documents WHERE len(string_split(text, ' ')) >= 3)",
            "doc_id",
            "text",
        )}),
        sh AS ({shingle_sets_sql("grp", "rep_id", 3)}),
        rep_pairs AS (
            SELECT a.rep_id AS group_a, b.rep_id AS group_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
                         / CAST(len(a.sh) AS DOUBLE), 4) AS containment
            FROM sh a JOIN sh b ON a.rep_id <> b.rep_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * {CONT_DEN}
                  >= {CONT_NUM} * CAST(len(a.sh) AS BIGINT)
        )
        {group_pairs_sql("rep_pairs", "grp", "containment", "1.0")}
        ORDER BY group_a, group_b
    """,
}
