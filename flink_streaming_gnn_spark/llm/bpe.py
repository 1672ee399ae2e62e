"""BPE tokenizer training at corpus scale (SURVEY.md §2B LLM-pipeline
family; Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units", ACL 2016 — the byte-pair-encoding merge-rule learner
behind GPT/LLaMA-style tokenizers).

``tokenizer_bpe_train`` learns the first ``MERGES`` merge rules from the
``documents`` corpus:

1. ONE corpus-sized aggregation builds the word-frequency table — the
   only pass that touches raw text (classic BPE trains on the word-freq
   dict, not the corpus: HF tokenizers do exactly this).
2. Each word becomes a space-separated character sequence
   (``the → "t h e"``); per merge round, adjacent-token pairs are counted
   weighted by word frequency (explode + hash agg over the |vocab|-sized
   dict), the argmax pair (deterministic tiebreak: highest count, then
   lexicographically smallest pair) becomes the next merge rule, and the
   dict re-segments via a boundary-safe literal ``replace`` on the
   space-padded sequence.

Scale posture: after the initial word-count agg, every round is a
map+agg over the distinct-word dict (≪ corpus; Heaps' law), and the only
driver read per round is the 1-row argmax — the exact shape of
distributed BPE training. Merge application is a zero-shuffle map.

Determinism/parity: counts are exact integers; the pair tiebreak is an
ASCII string compare; ``replace`` is leftmost non-overlapping in Spark,
DuckDB, and Python alike (pinned against a from-scratch Python BPE in
tests/test_round3.py). Each rule's replace is applied TWICE: a single
non-overlapping pass misses every second member of a run of consecutive
occurrences because adjacent matches share a delimiter space (``banana``
with rule ``(a,n)`` → ``b an a n a`` after one pass), and a second pass
is a fixpoint for space-delimited sequences — the survivors of pass one
are separated by merged tokens, so their windows no longer overlap.
This matches canonical (Sennrich/HF greedy-left) segmentation for all
``left != right`` rules; for self-adjacent runs under a ``left == right``
rule the replace-all discipline is the pinned spec (it can differ from
greedy-left on e.g. six ``a``s under ``(a,a)``). The DuckDB oracle
unrolls the same rounds as MATERIALIZED CTEs with the same double
replace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.sources.tables import load_table
from flink_streaming_gnn_spark.plans import truncate

MERGES = 8


def _word_freq_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    wf = words.groupBy("word").agg(F.count("*").cast("long").alias("freq"))
    return wf.select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"), "freq"
    )


def _pair_counts(dict_df: DataFrame) -> DataFrame:
    parts = F.split("seq", " ")
    zipped = F.arrays_zip(
        F.slice(parts, 1, F.size(parts) - 1).alias("l"),
        F.slice(parts, 2, F.size(parts) - 1).alias("r"),
    )
    return (
        dict_df.select("freq", F.explode(zipped).alias("p"))
        .select("freq", F.concat(F.col("p.l"), F.lit(" "), F.col("p.r")).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


@truncate.release_superseded_checkpoints
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first MERGES BPE merge rules: (merge_rank, left_tok, right_tok,
    merged, pair_freq)."""
    dict_df = _word_freq_seqs(spark, sf_dir).localCheckpoint()
    rules = []
    for rank in range(1, MERGES + 1):
        top = (
            _pair_counts(dict_df)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()  # 1 row — the bounded argmax read of distributed BPE
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        merged = pair.replace(" ", "")
        rules.append((rank, *pair.split(" "), merged, cnt))
        # boundary-safe literal merge on the padded sequence; zero
        # shuffle. Applied twice: consecutive occurrences share a
        # delimiter space, so one non-overlapping pass merges only every
        # other one; the second pass is the fixpoint (module docstring).
        merge_expr = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
        for _ in range(2):
            merge_expr = F.replace(
                merge_expr, F.lit(f" {pair} "), F.lit(f" {merged} ")
            )
        dict_df = dict_df.select(
            F.trim(merge_expr).alias("seq"), "freq"
        ).localCheckpoint()
    return spark.createDataFrame(
        rules,
        schema="merge_rank long, left_tok string, right_tok string, "
        "merged string, pair_freq long",
    )


def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer — the other half of the BPE
    story (train without apply is not a tokenizer): per document, segment
    every word with the ``MERGES`` learned rules applied in rank order
    and emit token-count statistics (the sequence-length accounting a
    packing/budgeting pipeline consumes).

    The merge table is read once from the training pass (MERGES bounded
    1-row argmax reads — the same driver reads training itself does) and
    inlined as literal rules, so encoding is explode → a chain of MERGES
    boundary-safe literal replaces → one doc_id aggregate: zero Python,
    one shuffle, and the per-word cost is O(MERGES) string scans
    regardless of corpus size. The DuckDB oracle re-derives the SAME
    rules entirely in SQL (the training CTEs) and applies them with
    nested replaces — a cross-formulation check of train AND encode."""
    rules = [
        (r["left_tok"], r["right_tok"], r["merged"])
        for r in tokenizer_bpe_train(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    seq = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("word", "(.)", "$1 ")), F.lit(" ")
    )
    for left, right, merged in rules:
        # double replace per rule — consecutive-occurrence fixpoint
        # (module docstring); still O(MERGES) literal scans per word
        for _ in range(2):
            seq = F.replace(
                seq, F.lit(f" {left} {right} "), F.lit(f" {merged} ")
            )
    toks = words.select("doc_id", F.split(F.trim(seq), " ").alias("toks"))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.size("toks")).cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.aggregate(F.transform("toks", F.length), F.lit(0), lambda a, x: a + x))
                / F.sum(F.size("toks")),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


def _bpe_chain(merges: int) -> str:
    """The training twin's CTE chain: merge rule r is t{r}, and w{r} is
    every word's sequence after rules 1..r."""
    return truncate.unroll(
        r"""wf AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''
            GROUP BY word
        ),
        w0 AS MATERIALIZED (
            SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq, freq
            FROM wf
        )""",
        lambda r: f"""p{r} AS MATERIALIZED (
            SELECT parts[i] || ' ' || parts[i + 1] AS pair,
                   CAST(sum(freq) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(range(1, len(string_split(seq, ' ')))) AS i,
                       string_split(seq, ' ') AS parts, freq
                FROM w{r - 1}
            )
            GROUP BY 1
        ),
        t{r} AS MATERIALIZED (
            SELECT CAST({r} AS BIGINT) AS merge_rank, pair, cnt
            FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1
        ),
        w{r} AS MATERIALIZED (
            SELECT trim(replace(replace(' ' || seq || ' ',
                                ' ' || (SELECT pair FROM t{r}) || ' ',
                                ' ' || (SELECT replace(pair, ' ', '') FROM t{r})
                                    || ' '),
                                ' ' || (SELECT pair FROM t{r}) || ' ',
                                ' ' || (SELECT replace(pair, ' ', '') FROM t{r})
                                    || ' ')) AS seq,
                   freq
            FROM w{r - 1}
        )""",
        merges,
    )


def _bpe_oracle_sql(merges: int = MERGES) -> str:
    union = "\n            UNION ALL ".join(
        f"SELECT * FROM t{r}" for r in range(1, merges + 1)
    )
    return f"""
        WITH {_bpe_chain(merges)}
        SELECT merge_rank,
               split_part(pair, ' ', 1) AS left_tok,
               split_part(pair, ' ', 2) AS right_tok,
               replace(pair, ' ', '') AS merged,
               cnt AS pair_freq
        FROM ({union})
    """


def _bpe_encode_oracle_sql(merges: int = MERGES) -> str:
    # the training chain's rules t1..tN, then the nested-replace
    # application of the derived rules to every word
    expr = "' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '"
    for r in range(1, merges + 1):
        for _ in range(2):  # double replace per rule (module docstring)
            expr = (
                f"replace({expr}, ' ' || (SELECT pair FROM t{r}) || ' ', "
                f"' ' || (SELECT replace(pair, ' ', '') FROM t{r}) || ' ')"
            )
    return f"""
        WITH {_bpe_chain(merges)},
        dwords AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        enc AS (
            SELECT doc_id,
                   string_split(trim({expr}), ' ') AS toks
            FROM dwords WHERE word <> ''
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
               round(sum(list_aggregate(list_transform(toks, t -> length(t)),
                                        'sum'))
                     / CAST(sum(len(toks)) AS DOUBLE), 4) AS chars_per_token
        FROM enc
        GROUP BY doc_id
        ORDER BY doc_id
    """


QUERIES = {
    "tokenizer_bpe_train": tokenizer_bpe_train,
    "tokenizer_bpe_encode": tokenizer_bpe_encode,
}
ORACLE = {
    "tokenizer_bpe_train": _bpe_oracle_sql(),
    "tokenizer_bpe_encode": _bpe_encode_oracle_sql(),
}
