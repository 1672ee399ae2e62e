"""The vector-search kit shared by the similarity-search keys
(``llm.simsearch``, ``llm.knnclf``, ``llm.binquant``, ``llm.matryoshka``).
Every vector key has one shape: a bounded probe set scored against the
whole collection, then cut to an exact per-probe top-k. The parts of that
shape are written here once, as Spark frames and as their DuckDB twins; a
key keeps only its candidate tier (brute force, IVF cells, LSH buckets, PQ
codes, binary codes), its readout and its ``QUERIES``/``ORACLE`` entries.

Probe set. The probes are the rows with ``vec_id < N_PROBES``: a
scale-invariant set, so the probe closure and the scorer's per-batch
score matrix (n_cand × N_PROBES) stay the same size at any replication of
the corpus. A probe is never its own candidate. A key with its own probe
set (binquant's 20) keeps its own constant but the same rule.

Tie order. Every per-probe ranking orders by the key's score (cosine
descending, a distance ascending) and then by ``cand_id`` ascending, so
the cut is a total order and both engines pick the same rows under ties.

Exact partial top-k. ``brute_topk`` scores the collection in an
Arrow-batched ``mapInPandas``: one BLAS matmul per candidate batch against
all unit-normalized probes, and each task keeps only its own top-k per
probe under the final total order. The global ``top_k`` window then
merges |tasks|·|probes|·k rows instead of |collection|·|probes| score
triples, and the result is identical to scoring everything and ranking
afterwards: per batch the (k+1)-th largest score is the threshold, which
keeps every value-tied candidate, and the +1 absorbs the probe's own
self-pair before it is excluded; the per-task compaction applies the
exact lexicographic order. Measured at the ×10 corpus (200k vectors), the
IVF tier's per-query index build costs 21.4 s against 3.6 s for this scan:
an ANN index pays off only when its build is amortized over many query
batches (``simsearch_ivf`` stays the indexed tier for that regime).

The kernels are built in a factory: they ship to Python workers inside
``mapInPandas`` closures, and a factory-local function pickles by value,
so workers need not import this package (the ``llm.dedup`` gram-kernel
rule). ``topk_kernel`` is the module-level alias tests drive directly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PROBES = 50

_SCORES = "cand_id long, probe_id long, cos double"


def probes(e: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The sorted probe ids of the embeddings frame ``e`` and their
    unit-normalized rows, one float64 row per probe."""
    rows = e.filter(F.col("vec_id") < N_PROBES).select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _make_kernels():
    """Factory of the batch kernels (pickled by value, see the module
    docstring)."""

    def unit_scores(pdf, pm):
        """Candidate ids of one Arrow batch and its (n_cand, n_probe)
        cosine matrix against the unit probe rows ``pm``."""
        import numpy as np

        c = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        cn = c / np.linalg.norm(c, axis=1, keepdims=True)
        return pdf["vec_id"].to_numpy(), cn @ pm.T

    def topk_kernel(batches, ids, pm, k):
        """This task's exact top-``k`` (cos desc, cand_id asc) per probe,
        self-pairs excluded."""
        import numpy as np
        import pandas as pd

        pool_c: list[list] = [[] for _ in ids]
        pool_s: list[list] = [[] for _ in ids]
        for pdf in batches:
            cand, s = unit_scores(pdf, pm)
            n = len(cand)
            for j in range(len(ids)):
                col = s[:, j]
                if n > k + 1:
                    # (k+1)th largest: ties kept, self-pair slot absorbed
                    sel = col >= np.partition(col, n - k - 1)[n - k - 1]
                    pool_c[j].append(cand[sel])
                    pool_s[j].append(col[sel])
                else:
                    pool_c[j].append(cand)
                    pool_s[j].append(col)
        out_c, out_p, out_s = [], [], []
        for j, p in enumerate(ids):
            if not pool_c[j]:
                continue
            cc = np.concatenate(pool_c[j])
            ss = np.concatenate(pool_s[j])
            keep = cc != p  # self-pair excluded before the cut
            cc, ss = cc[keep], ss[keep]
            order = np.lexsort((cc, -ss))[:k]
            out_c.append(cc[order])
            out_s.append(ss[order])
            out_p.append(np.full(len(order), p))
        if out_c:
            yield pd.DataFrame(
                {
                    "cand_id": np.concatenate(out_c),
                    "probe_id": np.concatenate(out_p),
                    "cos": np.concatenate(out_s),
                }
            )

    def range_kernel(batches, ids, pm, min_score):
        """Every (cand, probe, cos) of raw cosine ≥ ``min_score``."""
        import numpy as np
        import pandas as pd

        for pdf in batches:
            cand, s = unit_scores(pdf, pm)
            ci, pi = np.nonzero(s >= min_score)
            yield pd.DataFrame({"cand_id": cand[ci], "probe_id": ids[pi], "cos": s[ci, pi]})

    return topk_kernel, range_kernel


topk_kernel, _range_kernel = _make_kernels()


def brute_topk(e: DataFrame, k: int, cands: DataFrame | None = None) -> DataFrame:
    """``(cand_id, probe_id, cos)``: each task's exact top-``k`` per probe
    of ``e`` over the candidates ``cands`` (default ``e`` itself); cut it
    with ``top_k``."""
    ids, pm = probes(e)
    return (e if cands is None else cands).select("vec_id", "embedding").mapInPandas(
        lambda batches: topk_kernel(batches, ids, pm, k), schema=_SCORES
    )


def brute_range(e: DataFrame, min_score: float) -> DataFrame:
    """``(cand_id, probe_id, cos)`` of every non-self pair of raw cosine ≥
    ``min_score``: the emitted triples scale with the answer, not with
    |collection|·|probes|."""
    ids, pm = probes(e)
    return (
        e.select("vec_id", "embedding")
        .mapInPandas(lambda batches: _range_kernel(batches, ids, pm, min_score), schema=_SCORES)
        .filter(F.col("probe_id") != F.col("cand_id"))
    )


def top_k(scored: DataFrame, order: Column, k: int) -> DataFrame:
    """The rows of ``scored`` ranked ``1..k`` per ``probe_id`` under
    ``(order, cand_id)``, with ``rank`` as a long. The filter reads the raw
    row number and the cast comes after it, so Catalyst plans the cut as a
    ``WindowGroupLimit`` (k rows per partition before the final merge)."""
    w = Window.partitionBy("probe_id").orderBy(order, F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


# --- DuckDB twins ---------------------------------------------------------


def topk_sql(rel: str, order: str, k: int) -> str:
    """Twin of ``top_k`` over the relation ``rel``: its rows with ``rank``
    (BIGINT) ``≤ k`` per ``probe_id`` under ``(order, cand_id)``."""
    return f"""
        SELECT * FROM (
            SELECT *, CAST(row_number() OVER (
                       PARTITION BY probe_id ORDER BY {order}, cand_id
                   ) AS BIGINT) AS rank
            FROM {rel}
        ) WHERE rank <= {k}
    """
