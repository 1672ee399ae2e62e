"""Property tests for the randomized / engine-specific LLM operators
(SURVEY.md §5.2#5): planted exact duplicates must be recalled by every
dedup tier; approximate ANN must recall a healthy fraction of the true
top-k; the multimodal decode plumbing must hold its schema contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.llm.dedup import dedup_exact, dedup_minhash, dedup_simhash
from flink_streaming_gnn_spark.llm.multimodal import multimodal_decode_stub
from flink_streaming_gnn_spark.llm.simsearch import (
    TOP_K,
    simsearch_cosine_knn,
    simsearch_ivf,
)
from flink_streaming_gnn_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE

# planted exact-dup texts exist only at sf0.1 (FIXTURES.md: 8 dup rows)
SF_DUPS = "/root/testdata/sf0.1"


def _planted_dup_pairs(spark) -> set[tuple[int, int]]:
    """All (a<b) doc_id pairs sharing identical text in the fixture."""
    d = load_table(spark, SF_DUPS, "documents").select("doc_id", "text").toPandas()
    pairs = set()
    for _, grp in d.groupby("text"):
        ids = sorted(grp.doc_id)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return pairs


def test_dedup_exact_finds_planted(spark):
    out = dedup_exact(spark, SF_DUPS).filter(F.col("n_copies") > 1).toPandas()
    planted = _planted_dup_pairs(spark)
    assert len(planted) > 0, "fixture should contain planted dups"
    # every planted dup group surfaces as a >1-copy group
    n_extra_copies = int(out.n_copies.sum() - len(out))
    assert n_extra_copies == len({b for _, b in planted})


def test_dedup_minhash_recalls_planted(spark):
    # group-level contract (round 6): planted exact dups are same-text
    # clones, so they surface as a jaccard_dist=0.0 SELF row for their
    # clone group (group_a == group_b == min doc_id, n == group size) —
    # recall of every planted group with exact membership count, by
    # construction rather than by LSH luck
    from flink_streaming_gnn_spark.sources.tables import load_table

    d = load_table(spark, SF_DUPS, "documents").select("doc_id", "text").toPandas()
    want = {}
    for _, grp in d.groupby("text"):
        ids = sorted(int(x) for x in grp.doc_id)
        if len(ids) >= 2 and len(grp.text.iloc[0].split(" ")) >= 3:
            want[ids[0]] = len(ids)
    rows = dedup_minhash(spark, SF_DUPS).collect()
    self_rows = {
        int(r.group_a): int(r.n_a)
        for r in rows
        if r.group_a == r.group_b
    }
    assert want == self_rows, (
        f"missing/mismatched clone groups: want {len(want)}, got {len(self_rows)}"
    )
    for r in rows:
        if r.group_a == r.group_b:
            assert r.jaccard_dist == 0.0


def test_dedup_simhash_identical_for_planted(spark):
    planted = _planted_dup_pairs(spark)
    fp = dedup_simhash(spark, SF_DUPS).toPandas().set_index("doc_id").simhash
    for a, b in planted:
        assert fp[a] == fp[b], f"simhash differs for identical texts {a},{b}"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 3-of-16 probed cells should recall a solid majority of the
    exact top-20 (random data has weak cluster structure, so the bound is
    deliberately loose — the point is the index returns real neighbors,
    not garbage)."""
    exact = simsearch_cosine_knn(spark, SF_ORACLE).toPandas()
    approx = simsearch_ivf(spark, SF_ORACLE).toPandas()
    exact_sets = exact.groupby("probe_id").cand_id.apply(set)
    approx_sets = approx.groupby("probe_id").cand_id.apply(set)
    recalls = [
        len(exact_sets[p] & approx_sets.get(p, set())) / TOP_K for p in exact_sets.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    # random unclustered vectors: 3/16 cells ≈ 0.19 blind baseline;
    # centroid-correlated probing should beat it clearly
    assert mean_recall > 0.25, f"IVF mean recall too low: {mean_recall:.2f}"


def test_lsh_recall_vs_bruteforce(spark):
    """BucketedRandomProjectionLSH tier (round-6 geometry: bucketLength
    ≈ one projection σ, threshold below the random-pair 1st percentile,
    per-probe top-k output): on UNIT-NORM vectors L2² = 2 − 2·cos, so
    the exact cosine top-k is the ground truth for the L2 ranking. Same
    loose bound philosophy as the IVF test — 4 OR-ed tables over random
    unclustered data recall the true neighborhood well above chance."""
    from flink_streaming_gnn_spark.llm.simsearch import simsearch_lsh

    exact = simsearch_cosine_knn(spark, SF_ORACLE).toPandas()
    approx = simsearch_lsh(spark, SF_ORACLE).toPandas()
    exact_sets = exact.groupby("probe_id").cand_id.apply(set)
    approx_sets = approx.groupby("probe_id").cand_id.apply(set)
    recalls = [
        len(exact_sets[p] & approx_sets.get(p, set())) / TOP_K for p in exact_sets.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall > 0.25, f"LSH mean recall too low: {mean_recall:.2f}"
    # the top-k contract is bounded per probe
    counts = approx.groupby("probe_id").cand_id.count()
    assert counts.max() <= TOP_K


def test_multimodal_decode_contract(spark):
    out = multimodal_decode_stub(spark, SF_ORACLE)
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "width",
        "height",
        "n_frames",
        "mean_luma",
    ]
    pdf = out.toPandas()
    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    assert len(pdf) == n_docs
    assert pdf.width.between(64, 127).all()
    assert pdf.n_frames.between(1, 8).all()
    # deterministic: same input bytes → same fake features on re-run
    pdf2 = multimodal_decode_stub(spark, SF_ORACLE).toPandas()
    pd.testing.assert_frame_equal(
        pdf.sort_values("doc_id").reset_index(drop=True),
        pdf2.sort_values("doc_id").reset_index(drop=True),
    )


def test_pq_recall_vs_bruteforce(spark):
    """PQ 8×16 ADC top-20 vs exact brute force. 64-dim unclustered
    synthetic vectors are PQ's worst case, so the bound is loose — the
    assertion is that quantized scoring ranks real neighbors far above
    chance (blind top-20 of ~500 candidates ≈ 0.04)."""
    from flink_streaming_gnn_spark.llm.simsearch import simsearch_pq

    exact = simsearch_cosine_knn(spark, SF_ORACLE).toPandas()
    approx = simsearch_pq(spark, SF_ORACLE).toPandas()
    exact_sets = exact.groupby("probe_id").cand_id.apply(set)
    approx_sets = approx.groupby("probe_id").cand_id.apply(set)
    recalls = [
        len(exact_sets[p] & approx_sets.get(p, set())) / TOP_K for p in exact_sets.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall > 0.25, f"PQ mean recall too low: {mean_recall:.2f}"


def test_topk_kernel_ties_match_full_ranking():
    """The vector kit's per-task top-k kernel against one full lexsort
    ranking, on inputs where it can go wrong: every non-probe vector occurs
    about six times under different ids (value ties), duplicates straddle
    batch boundaries, batches are smaller than, equal to and larger than
    k + 1, and each probe is a candidate too (its self-pair is the unique
    best of its batch). Vectors are ±1 in 16 dims, so unit rows are ±0.25
    and every score is exact whatever the batch shape of the matmul."""
    import itertools

    import numpy as np

    from flink_streaming_gnn_spark.llm.vecsearch import topk_kernel

    probe_ids = np.arange(4, dtype=np.int64)
    cuts = np.cumsum([2, 6, 13, 4, 35])[:-1]  # batch sizes 2, 6, 13, 4, 35
    for seed, k in itertools.product(range(4), (1, 5, 20)):
        rs = np.random.RandomState(seed)
        signs = rs.choice([-1.0, 1.0], (14, 16))  # 4 probe vectors, 10 shared
        vecs = np.vstack([signs[:4], signs[4 + rs.randint(0, 10, 56)]])
        shuffle = rs.permutation(60)  # ids 0..3, the probes, land anywhere
        vecs, ids = vecs[shuffle], shuffle.astype(np.int64)
        pm = signs[:4] / 4.0
        scores = (vecs / 4.0) @ pm.T
        batches = [
            pd.DataFrame({"vec_id": i, "embedding": list(v)})
            for i, v in zip(np.split(ids, cuts), np.split(vecs, cuts))
        ]
        got = pd.concat(list(topk_kernel(iter(batches), probe_ids, pm, k)))
        for j, p in enumerate(probe_ids):
            keep = ids != p
            order = np.lexsort((ids[keep], -scores[keep, j]))[:k]
            mine = got[got.probe_id == p]
            assert list(mine.cand_id) == list(ids[keep][order]), (seed, k, p)
            assert list(mine.cos) == list(scores[keep, j][order]), (seed, k, p)


def test_text_fingerprint_short_document_matches_twin(spark, tmp_path, monkeypatch):
    """A document of fewer than 5 tokens has no 5-gram: Spark returns a
    NULL ``winnow_min`` for it, as the DuckDB twin does, next to a
    10-token document, and both hash alike under the driver's canon."""
    import os

    import duckdb

    from flink_streaming_gnn_spark import registry

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    )
    from oracle import canon

    path = str(tmp_path / "documents.parquet")
    texts = ["a b c d", "one two three four five six seven eight nine ten"]
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": texts,
            "lang": ["en", "en"],
            "source": ["src1", "src1"],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(path, index=False)
    got = registry.all_queries()["text_fingerprint"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(registry.all_oracle_sql()["text_fingerprint"]).fetchdf()
    assert got.set_index("doc_id").winnow_min.isna().tolist() == [True, False]
    assert canon(got) == canon(want)
