"""End-to-end training-data pipeline operators over ``documents``
(north_star: the operations a 100 TB pretraining-data pipeline needs
beyond per-document scoring — corpus assembly itself).

Four stages a real data curation run chains after dedup/quality (llm.dedup,
llm.textstats):

- sample_stratified  — deterministic per-language downsampling (hash-free
  id-mod gate so every engine and every rerun agrees on the kept set)
- decontam_ngram     — flag training docs sharing an 8-token shingle with
  the (small, curated) eval set — the standard n-gram decontamination pass
- pack_sequences     — assign documents to fixed token-budget training
  sequences by contiguous fill per language shard (one window cumsum —
  no state, no Python, partitioning-invariant)
- mix_weights        — per-source sampling weights that reshape the corpus
  toward a uniform-over-sources token budget (the "domain mixing" table a
  sampler consumes)

Scale posture: stratified sampling and packing are pure per-row expressions
plus one window (single shuffle on the shard key); decontamination explodes
shingles only on the eval side's join partner (eval sets are tiny and
curated — that side is maybe_broadcast-gated, never assumed small); mixing
is two scans + one small agg join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.llm.neardup import shingle_sets_sql, shingles
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

# deterministic per-language keep-rates (percent) — the kind of table a
# curation run derives from quality audits; literal here so both engines
# (and every rerun) agree exactly
SAMPLE_RATES_PCT = {"en": 80, "zh": 60, "es": 60, "fr": 40, "de": 40}
DEFAULT_RATE_PCT = 50
EVAL_MOD = 97  # doc_id % 97 == 0 -> held-out eval doc (~1% of corpus)
SEQ_BUDGET = 512  # tokens per packed training sequence
SHINGLE_N = 8


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep doc iff
    ``doc_id % 100 < rate_pct(lang)``. A pure function of (id, lang) — no
    RNG state, so the kept set is identical on any cluster, any partition
    layout, any retry (the reproducibility property training runs need)."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE_PCT)
    for lang, pct in SAMPLE_RATES_PCT.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return (
        d.withColumn("rate_pct", rate.cast("long"))
        .filter(F.pmod("doc_id", F.lit(100)) < F.col("rate_pct"))
        .select("doc_id", "lang", "source", "rate_pct")
    )


def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination: a training doc is contaminated if it shares
    any {SHINGLE_N}-token shingle with an eval-set doc (eval = doc_id %
    {EVAL_MOD} == 0, the held-out slice). Output: contaminated training
    docs with how many eval shingles they hit.

    Scale: the exploded eval shingle set is bounded by the *eval* corpus
    (curated, small — not the 100 TB side) and is broadcast when small;
    the training side streams through one equi-join on the shingle."""
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= SHINGLE_N)
    )
    ev = d.filter(F.pmod("doc_id", F.lit(EVAL_MOD)) == 0).select(
        F.explode(F.array_distinct(shingles("toks", SHINGLE_N))).alias("shingle")
    ).distinct()
    train = d.filter(F.pmod("doc_id", F.lit(EVAL_MOD)) != 0).select(
        "doc_id", F.explode(F.array_distinct(shingles("toks", SHINGLE_N))).alias("shingle")
    )
    return (
        train.join(maybe_broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit_shingles"))
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous-fill sequence packing: within each language shard,
    documents (in doc_id order) fill fixed {SEQ_BUDGET}-token training
    sequences; a doc starts the next sequence when the budget would
    overflow ... approximated order-deterministically as
    ``seq_id = floor((cumsum_tokens - n_tok) / budget)`` — one window
    cumsum, no carried state, so it parallelizes per shard and gives the
    same packing on any cluster. Docs longer than the budget occupy their
    own sequence(s) (chunking them first is llm.chunking's job)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tok", F.size(F.split("text", " ")).cast("long"))
        .select("doc_id", "lang", "n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tok", F.sum("n_tok").over(w))
    return cum.select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / F.lit(SEQ_BUDGET))
        .cast("long")
        .alias("seq_id"),
    )


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weight table: per source, the sampling weight that
    reshapes the corpus toward equal token budget per source —
    ``weight = (total_tokens / n_sources) / source_tokens``, capped at 1
    (never upsample). The output is the small table a sequence sampler
    consumes; computing it is two aggregates."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long")
    )
    per_src = d.groupBy("source").agg(F.sum("n_tok").alias("src_tok"))
    totals = per_src.agg(
        F.sum("src_tok").alias("tot_tok"), F.count("*").alias("n_src")
    )
    return (
        per_src.crossJoin(maybe_broadcast(totals))
        .select(
            "source",
            F.col("src_tok").cast("long").alias("src_tokens"),
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("tot_tok") / F.col("n_src")) / F.col("src_tok"),
                ),
                6,
            ).alias("weight"),
        )
    )


def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel end-to-end, as ONE declarative plan: exact-dup
    survivors (min doc_id per text) → quality gate (llm.textstats score ≥
    0.5) → stratified language gate → per-(lang, source) survivor stats.
    Composing the stages as expressions (not materialized passes) lets
    Catalyst collapse the funnel into a single scan + one window + one
    aggregate — the plan you want when the input is 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    digit_chars = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
    quality = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.4
        + (n_distinct / n_words) * 0.4
        + (1.0 - digit_chars / F.col("n_chars")) * 0.2
    )
    rate = F.lit(DEFAULT_RATE_PCT)
    for lang, pct in SAMPLE_RATES_PCT.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    survivor = F.min("doc_id").over(Window.partitionBy("text"))
    return (
        d.withColumn("is_survivor", F.col("doc_id") == survivor)
        .filter(
            F.col("is_survivor")
            & (F.round(quality, 4) >= 0.5)
            & (F.pmod("doc_id", F.lit(100)) < rate)
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(toks)).cast("long").alias("total_tokens"),
        )
    )


MIX_ALPHA = 0.3  # temperature exponent: p_i ∝ share^α (α<1 flattens)


def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-sampling rule
    p_i ∝ share_i^α, α≈0.3, used by mT5/XLM-R-style corpora): where
    ``mix_weights`` targets an equal token budget per source, this key
    interpolates between natural (α=1) and uniform (α=0) sampling.
    Shape: two tiny aggregates over per-source token counts (the shuffle
    carries one row per source), a 1-row normalizer, and a final
    broadcast-joined projection — |sources| rows out at any corpus size.
    Output: natural share, temperature share, and the boost factor the
    sequence sampler applies per source."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long")
    )
    per_src = d.groupBy("source").agg(F.sum("n_tok").alias("src_tok"))
    tot = per_src.agg(F.sum("src_tok").alias("tot_tok"))
    with_p = per_src.crossJoin(maybe_broadcast(tot)).withColumn(
        "p", F.col("src_tok") / F.col("tot_tok")
    )
    z = with_p.agg(F.sum(F.pow("p", F.lit(MIX_ALPHA))).alias("z"))
    return (
        with_p.crossJoin(maybe_broadcast(z))
        .select(
            "source",
            F.col("src_tok").cast("long").alias("src_tokens"),
            F.round("p", 6).alias("natural_share"),
            F.round(F.pow("p", F.lit(MIX_ALPHA)) / F.col("z"), 6).alias("temp_share"),
            F.round((F.pow("p", F.lit(MIX_ALPHA)) / F.col("z")) / F.col("p"), 6).alias(
                "boost"
            ),
        )
    )


QUERIES = {
    "sample_stratified": sample_stratified,
    "decontam_ngram": decontam_ngram,
    "pack_sequences": pack_sequences,
    "mix_weights": mix_weights,
    "mix_temperature_sampling": mix_temperature_sampling,
    "quality_filter_pipeline": quality_filter_pipeline,
}

_RATE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES_PCT.items()
) + f" ELSE {DEFAULT_RATE_PCT} END"

ORACLE = {
    "sample_stratified": f"""
        SELECT doc_id, lang, source,
               CAST({_RATE_CASE} AS BIGINT) AS rate_pct
        FROM documents
        WHERE doc_id % 100 < {_RATE_CASE}
    """,
    "decontam_ngram": f"""
        WITH sets AS ({shingle_sets_sql("documents", "doc_id", SHINGLE_N)}),
        ev AS (
            SELECT DISTINCT unnest(sh) AS shingle FROM sets
            WHERE doc_id % {EVAL_MOD} = 0
        ),
        train AS (
            SELECT doc_id, unnest(sh) AS shingle FROM sets
            WHERE doc_id % {EVAL_MOD} <> 0
        )
        SELECT train.doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        FROM train JOIN ev USING (shingle)
        GROUP BY train.doc_id
    """,
    "pack_sequences": f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        )
        SELECT doc_id, lang, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tok) / {SEQ_BUDGET}) AS BIGINT) AS seq_id
        FROM d
    """,
    "mix_temperature_sampling": f"""
        WITH per_src AS (
            SELECT source, sum(len(string_split(text, ' '))) AS src_tok
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(src_tok) AS tot_tok FROM per_src),
        with_p AS (
            SELECT source, src_tok, src_tok * 1.0 / tot_tok AS p
            FROM per_src CROSS JOIN tot
        ),
        z AS (SELECT sum(pow(p, {MIX_ALPHA})) AS z FROM with_p)
        SELECT source,
               CAST(src_tok AS BIGINT) AS src_tokens,
               round(p, 6) AS natural_share,
               round(pow(p, {MIX_ALPHA}) / z, 6) AS temp_share,
               round((pow(p, {MIX_ALPHA}) / z) / p, 6) AS boost
        FROM with_p CROSS JOIN z
    """,
    "mix_weights": """
        WITH per_src AS (
            SELECT source, sum(len(string_split(text, ' '))) AS src_tok
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(src_tok) AS tot_tok, count(*) AS n_src FROM per_src)
        SELECT source,
               CAST(src_tok AS BIGINT) AS src_tokens,
               round(least(1.0, (tot_tok / n_src) / src_tok), 6) AS weight
        FROM per_src CROSS JOIN tot
    """,
    "quality_filter_pipeline": f"""
        WITH scored AS (
            SELECT doc_id, lang, source, text,
                   len(string_split(text, ' ')) AS n_words,
                   round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
                         + (len(list_distinct(string_split(text, ' '))) * 1.0
                            / len(string_split(text, ' '))) * 0.4
                         + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                            / n_chars) * 0.2, 4) AS quality,
                   min(doc_id) OVER (PARTITION BY text) AS survivor_id
            FROM documents
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS total_tokens
        FROM scored
        WHERE doc_id = survivor_id
          AND quality >= 0.5
          AND doc_id % 100 < {_RATE_CASE}
        GROUP BY lang, source
    """,
}
