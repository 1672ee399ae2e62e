"""Minimum spanning forest via distributed Borůvka (SURVEY.md §2B graph
algorithms family — the classic O(log |V|)-round MSF algorithm, the shape
GraphX/Pregel implementations use, re-expressed as DataFrame rounds).

Per round, entirely relationally:
1. pick each component's minimum outgoing edge under the strict total
   order (w, a, b) — one ``min(struct)`` aggregate over the CONTRACTED
   component graph (the composite order makes the choice deterministic
   under weight ties, so the resulting forest is the unique MSF of the
   perturbed order and a valid MSF of the raw weights);
2. the chosen edges form a forest over components; label it with
   ``graph/components.hash_min_cc`` over that (component-count-sized,
   ≪ |E|) merge graph;
3. CONTRACT: re-key the working edges to the new component endpoints,
   drop intra-component edges, and collapse parallel component-pair
   edges to their (w, a, b)-minimal original edge — |E| shrinks
   geometrically with the component count, so later rounds touch the
   surviving component graph, never the original edge list.

Component count at least halves per round (every component picks an
edge), so the driver loop runs ≤ log₂|V| rounds; per-round driver reads
are O(1) scalars (the working edge count and the chosen-edge sum/count/
max), each observed on the job that checkpoints its frame, never
data-sized. Every round frame is ``localCheckpoint``-truncated — same
plan-growth discipline as ``graph/components.py``.

LOCAL TAIL (VERDICT r4 "Next round" #7): once the CONTRACTED component
graph is at most ``LOCAL_TAIL_EDGES`` edges — a CONSTANT, so the
collect is scale-invariantly bounded, never data-sized — the remaining
forest is finished with a driver-side union-find Kruskal under the same
(w, a, b) strict total order (which yields the identical unique MSF).
This is the standard tail-contraction of high-performance distributed
CC/MSF (e.g. ConnectIt, Dhulipala et al., PVLDB 2021): Borůvka's last
O(log) rounds operate on a vanishing edge set where per-round job
overhead dominates; at 100 TB the first rounds run distributed and the
tail is the same ≤ 64Ki-edge constant. At verify scale (sf0.01:
48.5k edges) the whole graph IS the tail — the distributed path is
exercised by the ``LOCAL_TAIL_EDGES = 0`` parity test in
tests/test_round5.py, which pins distributed ≡ local on the same
fixture.

Registry key is EXACT-ORACLE since round 9 (was rows-only): the general
recursion is beyond WITH RECURSIVE, but the MSF's uniqueness under the
strict (w, a, b) total order lets the oracle run a verify-scale unrolled
uncontracted Borůvka (``_mst_oracle_sql``); exact parity of the summary
(and the full forest weight) against a from-scratch union-find Kruskal
under the same (w, a, b) order stays pinned in tests/test_round3.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.components import hash_min_cc
from flink_streaming_gnn_spark.graph.edges import (
    bipartite_pairs,
    both_directions,
    derive_edges,
)
from flink_streaming_gnn_spark.plans import truncate

ROUND_CAP = 48  # components halve per round: covers 2^48 vertices
LOCAL_TAIL_EDGES = 65536  # constant local-tail bound (module docstring)


def _simple_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected simple graph in the 2c / 2s+1 id space:
    multigraph collapsed to min weight per endpoint pair (a < b always —
    customers are even, suppliers odd, and every derived edge crosses)."""
    return bipartite_pairs(derive_edges(spark, sf_dir), F.min("w").alias("w"))


def _kruskal_tail(e_cur: DataFrame) -> tuple[float, int, float]:
    """Driver-side union-find Kruskal over the ≤ LOCAL_TAIL_EDGES
    contracted component graph (collect bounded by the CONSTANT, never
    by data size). Sorting by the same strict (w, a, b) total order the
    distributed rounds use makes the accepted edge set the identical
    unique MSF. Returns (sum_w, n_edges, max_w) of the accepted edges."""
    rows = e_cur.select("u", "v", "w", "a", "b").collect()
    rows.sort(key=lambda r: (r["w"], r["a"], r["b"]))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    s, n, m = 0.0, 0, 0.0
    for r in rows:
        ru, rv = find(r["u"]), find(r["v"])
        if ru != rv:
            parent[ru] = rv
            s += float(r["w"])
            n += 1
            m = max(m, float(r["w"]))
    return s, n, m


@truncate.release_superseded_checkpoints
def mst_forest_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka WITH EDGE CONTRACTION: the working edge set is re-keyed to
    component endpoints AND collapsed to the lightest original edge per
    component pair every round, so |E| shrinks geometrically with the
    component count instead of re-joining the full original edge list
    each round (measured at the ≈sf1 probe: the rejoin-everything variant
    cost 685 s over ~17 rounds on 6M edges; contraction makes round r's
    work proportional to the surviving component graph). The global
    vertex→component map is never materialized — the summary needs only
    counts, and #components = #vertices − #forest-edges by the spanning
    invariant."""
    e0 = _simple_weighted_edges(spark, sf_dir)
    # contracted edge: (u, v) component endpoints + the lightest original
    # edge (w, a, b) realizing that component pair. Checkpoint FIRST so
    # the vertex count below reads the materialized frame instead of
    # re-deriving the edge list (was a second full corpus pass).
    rows = Observation()
    e_cur = (
        e0.select(F.col("a").alias("u"), F.col("b").alias("v"), "w", "a", "b")
        .observe(rows, F.count("*").alias("n"))
        .localCheckpoint()
    )
    n_vertices = (
        e_cur.select(F.col("u").alias("v"))
        .union(e_cur.select("v"))
        .distinct()
        .count()
    )
    total_w = 0.0
    n_edges = 0
    max_w = 0.0
    converged = False
    for _ in range(ROUND_CAP):
        # constant-bounded local tail: finish the remaining (contracted)
        # forest with a driver union-find under the same (w, a, b) order
        if rows.get["n"] <= LOCAL_TAIL_EDGES:
            s, n, m = _kruskal_tail(e_cur)
            total_w += s
            n_edges += n
            max_w = max(max_w, m)
            converged = True
            break
        ed = F.struct("w", "a", "b", "u", "v").alias("ed")
        cand = e_cur.select(F.col("u").alias("comp"), ed).union(
            e_cur.select(F.col("v").alias("comp"), ed)
        )
        chosen_stats = Observation()
        chosen = (
            cand.groupBy("comp")
            .agg(F.min("ed").alias("ed"))
            .select("ed.*")
            .distinct()
            .observe(
                chosen_stats,
                F.sum("w").alias("s"),
                F.count("*").alias("n"),
                F.max("w").alias("m"),
            )
            .localCheckpoint()
        )
        # O(1) scalar read per round (doubles as the empty check: e_cur
        # empty ⟺ no chosen edges, saving the separate isEmpty job)
        stats = chosen_stats.get
        if int(stats["n"]) == 0:
            converged = True
            break
        total_w += float(stats["s"])
        n_edges += int(stats["n"])
        max_w = max(max_w, float(stats["m"]))
        lbl = hash_min_cc(both_directions(chosen.select("u", "v").toDF("a", "b")))
        lu = lbl.select(F.col("v").alias("ku"), F.col("lbl").alias("lu"))
        lv = lbl.select(F.col("v").alias("kv"), F.col("lbl").alias("lv"))
        # refresh component endpoints, drop intra-component edges, contract
        # parallel component-pair edges to their (w, a, b)-minimal one
        rows = Observation()
        e_cur = (
            e_cur.join(lu, e_cur.u == lu.ku, "left")
            .join(lv, e_cur.v == lv.kv, "left")
            .select(
                F.coalesce("lu", "u").alias("cu"),
                F.coalesce("lv", "v").alias("cv"),
                "w",
                "a",
                "b",
            )
            .filter(F.col("cu") != F.col("cv"))
            .select(
                F.least("cu", "cv").alias("u"),
                F.greatest("cu", "cv").alias("v"),
                F.struct("w", "a", "b").alias("ed"),
            )
            .groupBy("u", "v")
            .agg(F.min("ed").alias("ed"))
            .select("u", "v", "ed.w", "ed.a", "ed.b")
            .observe(rows, F.count("*").alias("n"))
            .localCheckpoint()
        )
        # sever analyzer-state accumulation across outer generations too
        # (e_cur references lbl twice per round — see plans/truncate.py)
        e_cur = truncate.fresh_frame(e_cur)
    if not converged:
        # a silent partial forest would be wrong-but-plausible output;
        # fail loudly instead (components halve per round, so hitting the
        # cap means something else broke)
        raise RuntimeError(f"Borůvka did not converge within {ROUND_CAP} rounds")
    n_components = n_vertices - n_edges  # spanning-forest invariant
    return spark.createDataFrame(
        [
            (
                n_vertices,
                n_components,
                n_edges,
                round(total_w, 2),
                round(max_w, 2),
            )
        ],
        schema="n_vertices long, n_components long, n_mst_edges long, "
        "total_weight double, bottleneck_weight double",
    )


def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: MSF summary row (vertex/component/edge counts, total
    and bottleneck forest weight). EXACT-ORACLE since round 9 (VERDICT r8
    "Next round" #6, was rows-only): the MSF is UNIQUE under the strict
    (w, a, b) total order, so any correct MSF algorithm yields the
    identical edge set — the oracle runs a mechanically-unrolled
    UNCONTRACTED Borůvka (per-round min crossing edge per component +
    pointer-jumped hash-min CC over the accumulated forest, both chains
    guarded by ``truncate.unroll``) sized for sf0.1. Kruskal parity
    + the n_mst_edges == n_vertices − n_components invariant stay pinned
    in tests."""
    return mst_forest_summary(spark, sf_dir)


# Unroll depths, measured: the forest stops growing after 4 Borůvka
# rounds at sf0.01 and 6 at sf0.1, and a round's forest CC, seeded with
# the previous round's labels, is stable after at most 20 and 33
# iterations (the label shortcut is logarithmic only on id-sorted chains,
# graph/components.py). Each chain needs one round more than its depth,
# for its guard to see the fixpoint; the CC chain has two more as margin.
ORACLE_BORUVKA_ROUNDS = 8
ORACLE_CC_ITERS = 36


def _mst_oracle_sql(
    rounds: int = ORACLE_BORUVKA_ROUNDS, cc_iters: int = ORACLE_CC_ITERS
) -> str:
    """DuckDB twin of the unique-(w,a,b)-MSF summary. Uncontracted
    Borůvka: each round relabels the ORIGINAL collapsed edge list by the
    current component labels (CC of the accumulated forest, seeded with
    the previous round's labels — each the minimum id of a sub-tree of the
    new component, so only the merge depth is left to unroll; the forest
    is ≤|V| edges, so the per-round CC block is vertex-bounded, never
    edge-bounded), picks each component's minimal
    crossing edge, and accumulates. Every CTE is MATERIALIZED (each round
    references its predecessor multiple times — pagerank.py discipline)."""

    def forest_cc(r: int) -> str:
        labels = f"l_{r}_{{r}}"
        chain = truncate.unroll(
            f"l_{r}_0 AS (SELECT v, lbl FROM l_{r - 1}_f)",
            lambda k: f"""l_{r}_{k} AS MATERIALIZED (
            SELECT g.s AS v, min(l2.lbl) AS lbl FROM (
                SELECT fa AS s, fb AS t FROM f_{r}
                UNION ALL SELECT fb AS s, fa AS t FROM f_{r}
                UNION ALL SELECT v AS s, v AS t FROM verts
                UNION ALL SELECT v AS s, lbl AS t FROM l_{r}_{k - 1}
            ) g JOIN l_{r}_{k - 1} l2 ON g.t = l2.v
            GROUP BY g.s
        )""",
            cc_iters,
            fixpoint=labels,
        )
        return f"""{chain},
        l_{r}_f AS MATERIALIZED (
            SELECT * FROM l_{r}_{cc_iters} WHERE {truncate.converged(labels, cc_iters)}
        )"""

    chain = truncate.unroll(
        """e0 AS MATERIALIZED (
            SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
                   min(l_extendedprice) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        ),
        verts AS MATERIALIZED (
            SELECT a AS v FROM e0 UNION SELECT b AS v FROM e0
        ),
        f_0 AS MATERIALIZED (
            SELECT CAST(NULL AS BIGINT) AS fa, CAST(NULL AS BIGINT) AS fb,
                   CAST(NULL AS DOUBLE) AS fw
            WHERE false
        ),
        l_0_f AS MATERIALIZED (SELECT v, v AS lbl FROM verts)""",
        lambda r: f"""cand_{r} AS MATERIALIZED (
            SELECT lu.lbl AS cu, lv.lbl AS cv, e.w, e.a, e.b
            FROM e0 e
            JOIN l_{r - 1}_f lu ON e.a = lu.v
            JOIN l_{r - 1}_f lv ON e.b = lv.v
            WHERE lu.lbl <> lv.lbl
        ),
        chosen_{r} AS MATERIALIZED (
            SELECT DISTINCT w, a, b FROM (
                SELECT w, a, b, row_number() OVER (
                    PARTITION BY comp ORDER BY w, a, b
                ) AS rn
                FROM (
                    SELECT cu AS comp, w, a, b FROM cand_{r}
                    UNION ALL
                    SELECT cv AS comp, w, a, b FROM cand_{r}
                )
            ) WHERE rn = 1
        ),
        f_{r} AS MATERIALIZED (
            SELECT DISTINCT fa, fb, fw FROM (
                SELECT fa, fb, fw FROM f_{r - 1}
                UNION ALL
                SELECT a, b, w FROM chosen_{r}
            )
        ),
        {forest_cc(r)}""",
        rounds,
        fixpoint="f_{r}",
    )
    return f"""
        WITH {chain}
        SELECT CAST((SELECT count(*) FROM verts) AS BIGINT) AS n_vertices,
               CAST((SELECT count(*) FROM verts)
                    - (SELECT count(*) FROM f_{rounds}) AS BIGINT)
                   AS n_components,
               CAST((SELECT count(*) FROM f_{rounds}) AS BIGINT)
                   AS n_mst_edges,
               round((SELECT coalesce(sum(fw), 0.0) FROM f_{rounds}), 2)
                   AS total_weight,
               round((SELECT coalesce(max(fw), 0.0) FROM f_{rounds}), 2)
                   AS bottleneck_weight
        WHERE {truncate.converged("f_{r}", rounds)}
    """


QUERIES = {"graph_mst_boruvka": graph_mst_boruvka}
ORACLE: dict[str, str] = {"graph_mst_boruvka": _mst_oracle_sql()}
