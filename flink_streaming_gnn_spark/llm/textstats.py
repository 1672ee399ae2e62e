"""Text analysis operators over ``documents`` (north_star "text analysis"):
corpus stats, TF-IDF, heuristic language-ID, quality scoring, token
counting, content fingerprinting. All JVM-side (split/explode/regex/md5);
no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.llm.neardup import shingles
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (BASELINE ``text_tokenize_tf`` shape)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(words).cast("long").alias("total_words"),
        F.round(F.avg(words), 4).alias("avg_words"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF, fully relational: explode tokens → tf per (doc,
    token) → df per token → idf = ln(N/df). Two shuffles (both on token /
    doc keys). The idf side is vocabulary-sized — it grows with the corpus,
    so it is broadcast only while Catalyst estimates it small
    (maybe_broadcast); at 100 TB the tf⋈df join falls back to a shuffle on
    token. Output bounded to tf ≥ 3 terms to keep the comparison set
    stable."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()  # tiny scalar, computed once driver-side
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(maybe_broadcast(df), "token")
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language identification: token→lang affinity learned from
    the corpus itself (freq(token, lang) / freq(token)), per-doc score =
    Σ affinities, predict argmax. Scores are rounded to 6 dp *before* the
    argmax in both engines so cross-engine float drift cannot flip a
    prediction; ties break on lang ascending."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tokens = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    tok_lang = tokens.groupBy("token", "lang").agg(F.count("*").alias("c_tl"))
    tok_all = tok_lang.groupBy("token").agg(F.sum("c_tl").alias("c_t"))
    affinity = tok_lang.join(tok_all, "token").select(
        "token", F.col("lang").alias("cand_lang"), (F.col("c_tl") / F.col("c_t")).alias("aff")
    )
    scores = (
        tokens.join(affinity, "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.round(F.sum("aff"), 6).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand_lang"))
    pred = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            F.col("cand_lang").alias("pred_lang"),
            "score",
            (F.col("cand_lang") == F.col("lang")).alias("correct"),
        )
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length, mean word length, digit ratio, distinct
    token ratio — combined into one score. All computed from the same
    projected scan; ratios use deterministic integer inputs so only the
    final composite is rounded."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    digit_chars = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
    mean_wlen = (F.col("n_chars").cast("double") - (n_words - 1)) / n_words
    score = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.4
        + (n_distinct / n_words) * 0.4
        + (1.0 - digit_chars / F.col("n_chars")) * 0.2
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(n_distinct / n_words, 4).alias("distinct_ratio"),
        digit_chars.cast("long").alias("n_digit_chars"),
        F.round(score, 4).alias("quality"),
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer ([a-z]+ | digits | other-symbol) — the standard pre-tokenizer
    shape, counted JVM-side with regexp_extract_all."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        (F.col("n_chars") / F.size(F.split("text", " "))).alias("chars_per_token"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact-dup key) plus a
    winnowing-lite shingle fingerprint (min md5 over token 5-grams —
    stable under small edits outside the minimal shingle). A document of
    fewer than 5 tokens has no 5-gram, so its ``winnow_min`` is NULL."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    winnow = F.array_min(F.transform(shingles("toks", 5), F.md5))
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("md5_full"),
        F.when(F.size("toks") >= 5, winnow).alias("winnow_min"),
    )


def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained word-bigram
    LM — the standard pretraining-corpus filter (docs whose token
    transitions are improbable under the corpus model are low-quality /
    outlier content; Wenzek et al., CCNet, use a KenLM exactly this way).

    Fully relational and JVM-side: bigram explode → two hash aggs for the
    counts c(w1,w2) and c(w1,·) → per-position join → per-doc avg log
    P(w2|w1) and perplexity. The LM is trained on the scored corpus itself
    so every bigram has count ≥ 1 (no smoothing term needed — MLE is
    finite), mirroring self-scored corpus filtering. The count tables are
    vocabulary-sized (grow with the corpus): broadcast-gated, falling back
    to a shuffle join on the bigram/head key at 100 TB. avg_logp is rounded
    before the perplexity exp() in both engines so cross-engine float
    drift cannot split the hash."""
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 2)
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) as head,"
                " concat(element_at(toks, i), ' ', element_at(toks, i + 1)) as bigram))"
            )
        ).alias("p"),
    ).select("doc_id", "p.head", "p.bigram")
    c_bg = bg.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    c_head = bg.groupBy("head").agg(F.count("*").alias("c_head"))
    scored = (
        bg.join(maybe_broadcast(c_bg), "bigram")
        .join(maybe_broadcast(c_head), "head")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c_bg").cast("double") / F.col("c_head"))), 6
            ).alias("avg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_logp",
        F.round(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
    )


def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by TF-IDF
    (deterministic tiebreak on token). Same two-shuffle tf/df pipeline as
    text_tfidf, finished with one ranking window (WindowGroupLimit keeps
    3 rows per doc before the merge)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(maybe_broadcast(df), "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("rn").cast("long").alias("rank"), "token", "tfidf")
    )


QUERIES = {
    "text_stats": text_stats,
    "text_keyword_extract": text_keyword_extract,
    "text_tokenize_tf": text_stats,  # BASELINE.md headline name
    "text_tfidf": text_tfidf,
    "text_lang_id": text_lang_id,
    "text_quality_score": text_quality_score,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_ngram_lm_score": text_ngram_lm_score,
}

_STATS_SQL = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           round(avg(len(string_split(text, ' '))), 4) AS avg_words,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
"""

ORACLE = {
    "text_stats": _STATS_SQL,
    "text_tokenize_tf": _STATS_SQL,
    "text_tfidf": """
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
        )
        SELECT tf.doc_id, tf.token,
               CAST(tf.tf AS BIGINT) AS tf,
               round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.token = df.token
        WHERE tf.tf >= 3
    """,
    "text_lang_id": """
        WITH tokens AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        tok_lang AS (
            SELECT token, lang AS cand_lang, count(*) AS c_tl
            FROM tokens GROUP BY token, lang
        ),
        tok_all AS (
            SELECT token, sum(c_tl) AS c_t FROM tok_lang GROUP BY token
        ),
        affinity AS (
            SELECT tl.token, tl.cand_lang, tl.c_tl * 1.0 / ta.c_t AS aff
            FROM tok_lang tl JOIN tok_all ta ON tl.token = ta.token
        ),
        scores AS (
            SELECT t.doc_id, a.cand_lang, round(sum(a.aff), 6) AS score
            FROM tokens t JOIN affinity a ON t.token = a.token
            GROUP BY t.doc_id, a.cand_lang
        ),
        ranked AS (
            SELECT doc_id, cand_lang, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand_lang) AS rn
            FROM scores
        )
        SELECT r.doc_id, r.cand_lang AS pred_lang, r.score,
               r.cand_lang = d.lang AS correct
        FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
        WHERE r.rn = 1
    """,
    "text_quality_score": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               round((n_chars * 1.0 - (len(string_split(text, ' ')) - 1))
                     / len(string_split(text, ' ')), 4) AS mean_word_len,
               round(len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')), 4) AS distinct_ratio,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
                   AS n_digit_chars,
               round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
                     + (len(list_distinct(string_split(text, ' '))) * 1.0
                        / len(string_split(text, ' '))) * 0.4
                     + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                        / n_chars) * 0.2, 4) AS quality
        FROM documents
    """,
    "text_token_count": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                    AS BIGINT) AS bpe_ish_tokens,
               n_chars * 1.0 / len(string_split(text, ' ')) AS chars_per_token
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(lower(trim(text))) AS md5_full,
               list_min(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
                   i -> md5(string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1] || ' ' ||
                            string_split(text, ' ')[i + 2] || ' ' ||
                            string_split(text, ' ')[i + 3] || ' ' ||
                            string_split(text, ' ')[i + 4]))) AS winnow_min
        FROM documents
    """,
    "text_keyword_extract": """
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
        ),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / df.df), 6)
                       AS tfidf
            FROM tf JOIN df USING (token)
        )
        SELECT doc_id, CAST(rn AS BIGINT) AS rank, token, tfidf
        FROM (
            SELECT doc_id, token, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    "text_ngram_lm_score": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        pos AS (
            SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM t
        ),
        bg AS (
            SELECT doc_id, w[i] AS head, w[i] || ' ' || w[i + 1] AS bigram FROM pos
        ),
        cb AS (SELECT bigram, count(*) AS c_bg FROM bg GROUP BY bigram),
        chd AS (SELECT head, count(*) AS c_head FROM bg GROUP BY head),
        doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(ln(CAST(c_bg AS DOUBLE) / c_head)), 6) AS avg_logp
            FROM bg JOIN cb USING (bigram) JOIN chd USING (head)
            GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
        FROM doc
    """,
}


def text_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-richness profile: type–token ratio and the
    hapax-legomenon share (the Zipf-tail mass) — the two lexical
    diversity diagnostics a curation pipeline tracks next to
    ``text_zipf_fit`` (a shrinking hapax share under dedup/filtering
    means the long tail is being eaten). Two hash aggregations (token
    counts, then tail census) — all integers until two final divisions."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return freq.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.round(F.count("*") / F.sum("c"), 6).alias("type_token_ratio"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax_count"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")) / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


QUERIES["text_vocab_richness"] = text_vocab_richness
ORACLE["text_vocab_richness"] = """
    WITH freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    )
    SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
    FROM freq
"""


def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY Jaccard between document sources — the
    corpus-mixing diagnostic ("which feeds are lexically redundant?")
    a curation pipeline runs before setting mix weights. Top-20 most
    overlapping source pairs.

    Shape: one distinct (source, token) projection (the only
    corpus-sized pass), per-source vocab sizes aggregated once, then the
    pair intersection via ONE equi-join on token — never |sources|²
    scans; the join output is bounded by Σ_token df(token)², the
    posting-list bound every vocabulary-overlap system carries. Jaccard
    from exact integers."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    inter = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("long").alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("v_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("v_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "common",
            "v_a",
            "v_b",
            F.round(
                F.col("common") / (F.col("v_a") + F.col("v_b") - F.col("common")),
                6,
            ).alias("vocab_jaccard"),
        )
        .orderBy(F.col("vocab_jaccard").desc(), "src_a", "src_b")
        .limit(20)
    )


QUERIES["text_source_vocab_overlap"] = text_source_vocab_overlap
ORACLE["text_source_vocab_overlap"] = """
    WITH st AS (
        SELECT DISTINCT source, tok
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS v FROM st GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.common, sa.v AS v_a, sb.v AS v_b,
           round(i.common / CAST(sa.v + sb.v - i.common AS DOUBLE), 6)
               AS vocab_jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY vocab_jaccard DESC, src_a, src_b
    LIMIT 20
"""


NOVELTY_SPLIT_MOD, NOVELTY_TRAIN_PARTS = 10, 8


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram novelty — the memorization/contamination metric an
    LLM-eval pipeline runs between train and eval corpora: what fraction
    of the held-out split's distinct {1,2,3}-grams never appear in the
    training split? (Low novelty ⇒ the eval set is largely memorizable
    from train — the inverse signal of ``decontam_ngram``.) Split by the
    ``ml_nb_*`` doc_id rule so the corpora line up with the classifier
    keys. Per n: distinct held-out n-grams, the unseen count via ONE
    LEFT ANTI join on the n-gram string (never a cross product), novelty
    ratio from exact integers."""
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.pmod("doc_id", F.lit(NOVELTY_SPLIT_MOD)) < NOVELTY_TRAIN_PARTS)
    test = d.filter(F.pmod("doc_id", F.lit(NOVELTY_SPLIT_MOD)) >= NOVELTY_TRAIN_PARTS)

    def grams(df: DataFrame) -> DataFrame:
        """Distinct (n, gram) pairs for n ∈ {1,2,3} — ALL gram sizes in
        ONE corpus pass and ONE anti join (the per-n formulation cost 3
        explodes per side and 3 joins; ×10 probe 43.7 → 34.5 s — the
        residual floor is the distinct+shuffle over the ~3·|grams| rows
        the fused explode emits, the same class as winnowing's 76 s)."""
        per_n = [
            f"transform(sequence(1, greatest(size(toks) - {n - 1}, 0)),"
            f" i -> struct({n}L as n, array_join(slice(toks, i, {n}), ' ') as g))"
            for n in (1, 2, 3)
        ]
        return (
            df.select(F.split("text", " ").alias("toks"))
            .select(F.explode(F.expr(f"concat({', '.join(per_n)})")).alias("s"))
            .select("s.n", "s.g")
            .distinct()
        )

    te = grams(test).localCheckpoint()  # feeds the census AND the anti join
    unseen = (
        te.join(grams(train), ["n", "g"], "left_anti")
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("unseen"))
    )
    census = te.groupBy("n").agg(F.count("*").cast("long").alias("test_ngrams"))
    return (
        census.join(unseen, "n", "left")
        .select(
            "n",
            "test_ngrams",
            F.coalesce("unseen", F.lit(0)).cast("long").alias("unseen"),
            F.round(
                F.coalesce("unseen", F.lit(0)) / F.col("test_ngrams"), 6
            ).alias("novelty"),
        )
        .orderBy("n")
    )


QUERIES["text_ngram_novelty"] = text_ngram_novelty
ORACLE["text_ngram_novelty"] = f"""
    WITH train AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE doc_id % {NOVELTY_SPLIT_MOD} < {NOVELTY_TRAIN_PARTS}
    ),
    test AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE doc_id % {NOVELTY_SPLIT_MOD} >= {NOVELTY_TRAIN_PARTS}
    ),
    {", ".join(
        f'''tr{n} AS (
            SELECT DISTINCT unnest([array_to_string(t[i:i+{n - 1}], ' ')
                                    for i in range(1, len(t) - {n - 2})]) AS g
            FROM train WHERE len(t) >= {n}
        ),
        te{n} AS (
            SELECT DISTINCT unnest([array_to_string(t[i:i+{n - 1}], ' ')
                                    for i in range(1, len(t) - {n - 2})]) AS g
            FROM test WHERE len(t) >= {n}
        )'''
        for n in (1, 2, 3)
    )}
    {" UNION ALL ".join(
        f'''SELECT CAST({n} AS BIGINT) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM te{n}) AS test_ngrams,
               (SELECT CAST(count(*) AS BIGINT) FROM te{n}
                WHERE g NOT IN (SELECT g FROM tr{n})) AS unseen,
               round((SELECT count(*) FROM te{n}
                      WHERE g NOT IN (SELECT g FROM tr{n}))
                     / (SELECT CAST(count(*) AS DOUBLE) FROM te{n}), 6)
                   AS novelty'''
        for n in (1, 2, 3)
    )}
    ORDER BY n
"""
