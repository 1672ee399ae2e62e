"""PageRank: the Spark power iteration must match a numpy reference
(same rounds, damping, dangling handling) to float tolerance, and satisfy
the probability-mass invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import derive_edges
from flink_streaming_gnn_spark.graph.pagerank import (
    DAMPING,
    ROUNDS,
    graph_pagerank,
    pagerank_ranks,
)
from flink_streaming_gnn_spark.graph.ppr import ppr_ranks
from tests.conftest import SF_SMOKE


def _numpy_reference(spark) -> dict[int, float]:
    e = (
        derive_edges(spark, SF_SMOKE)
        .select((F.col("src") * 2).alias("a"), (F.col("dst") * 2 + 1).alias("b"))
        .distinct()
        .toPandas()
    )
    verts = sorted(set(e["a"]) | set(e["b"]))
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out_deg = e.groupby("a").size()
    rank = np.full(n, 1.0 / n)
    for _ in range(ROUNDS):
        contrib = np.zeros(n)
        ra = rank[[idx[a] for a in e["a"]]] / out_deg[e["a"]].to_numpy()
        np.add.at(contrib, [idx[b] for b in e["b"]], ra)
        dangling = sum(rank[idx[v]] for v in verts if v not in out_deg.index)
        rank = (1.0 - DAMPING) / n + DAMPING * (contrib + dangling / n)
    return {v: rank[idx[v]] for v in verts}


def test_pagerank_matches_numpy_reference(spark):
    truth = _numpy_reference(spark)
    got = {int(r["v"]): float(r["rank"]) for r in pagerank_ranks(spark, SF_SMOKE).collect()}
    assert set(got) == set(truth)
    diffs = [abs(got[v] - truth[v]) for v in truth]
    assert max(diffs) < 1e-9


def test_pagerank_mass_and_summary(spark):
    ranks = pagerank_ranks(spark, SF_SMOKE).toPandas()
    # probability mass conserved up to the final round's teleport smoothing
    assert abs(ranks["rank"].sum() - 1.0) < 1e-6
    top = graph_pagerank(spark, SF_SMOKE).toPandas()
    assert len(top) == 100
    assert (top["rank"].to_numpy() == np.sort(top["rank"].to_numpy())[::-1]).all()
    # suppliers (odd ids) receive all purchase edges, customers receive
    # none — so every supplier must outrank every customer
    n_sup = int((ranks["v"] % 2 == 1).sum())
    head = top.head(min(n_sup, 100))
    assert (head["v"] % 2 == 1).all()


@pytest.mark.parametrize("kernel", [pagerank_ranks, ppr_ranks], ids=["pagerank", "ppr"])
def test_rank_state_is_checkpoint_leaf(spark, kernel):
    """The returned rank frame is a checkpoint leaf: its logical plan has
    the same size after 2 rounds as after 6, so no round's plan embeds
    the previous round's."""

    def plan_lines(rounds: int) -> int:
        df = kernel(spark, SF_SMOKE, rounds=rounds)
        return len(df._jdf.queryExecution().logical().toString().splitlines())

    assert plan_lines(2) == plan_lines(6)
