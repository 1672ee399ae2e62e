"""Triangle counting on the supplier co-order projection (SURVEY.md §2B
graph ops; the bipartite purchase graph has no odd cycles, so the classic
triangle statistic lives on its one-mode projection: suppliers are adjacent
when they ship lineitems of the same order).

TWO-TIER SHAPE (round 6 — the ×10 probe measured the plain ordered
two-join at 268 s and explained why): the co-order projection is a
SMALL-V DENSE graph whenever the corpus has many more orders than
suppliers — at sf0.1, 150k orders × ≤21 pairs each cover 99.8% of the
C(1000,2) possible supplier pairs, so the projection is essentially the
complete graph and any wedge enumeration materializes Θ(V·deg²) ≈ 10⁸
rows to count C(V,3)-sized structure. Enumeration is the wrong tool for
the dense regime; bit-set intersection is the right one:

* **Dense tier** (V ≤ 16Ki vertices AND E ≤ 32Mi distinct edges — a
  geometry-bounded driver read via one Arrow ``toPandas``, the
  ``graph_mst_boruvka`` local-tail discipline): triangles =
  trace(A³)/6 with A the dense float32 adjacency — one V×V BLAS
  matmul plus an elementwise masked sum. Every A² entry is an integer
  ≤ V < 2²⁴ (exact in float32) and the final sum accumulates in
  float64, so the count is exact. At the ×10 fixture (V = 10 000,
  E = 4.5M) the matmul kernel runs in seconds where wedge
  ENUMERATION materialized ~10⁸ join rows — 268 s → ~35 s end-to-end
  (the residual is the projection build + Arrow transfer).
* **Distributed tier** (anything bigger): the textbook degree-ordered
  orientation — point each edge at its higher-(degree, id) endpoint, so
  per-vertex wedge fan-out is bounded by arboricity, not max degree
  (Chiba–Nishizeki; the standard big-graph triangle plan) — then the
  two equi-joins Catalyst plans as shuffled hash joins. A graph that
  exceeds the dense-tier bounds with millions of vertices is sparse
  relative to complete (E ≤ 21·|orders| distinct pairs), which is
  exactly where the oriented join shape performs.

Both tiers compute the identical count (pinned against each other in
pytest, and against the all-pairs DuckDB oracle); the projection itself
(lineitem ⋈ lineitem on orderkey) is bounded by per-order line counts
(≤7 in TPC-H-like data), so it scales linearly in orders; it would be
the first thing to bucket by orderkey on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import both_directions
from flink_streaming_gnn_spark.sources.tables import load_table

# dense-tier bounds: float32 adjacency ≤ 16Ki² × 4 B = 1 GiB (transient,
# driver has 128 GiB), edge list ≤ 32Mi rows over Arrow — both
# geometry-bounded driver reads. The masked-A² pass runs in row blocks
# (`_masked_a2_rowsums`), so peak driver memory at the bound is the 1 GiB
# adjacency + two ≤ 256 MiB slab transients — NOT a second full V×V
# matrix (ADVICE r6: the earlier one-shot `A @ A` kernel's true peak was
# ~3 GiB at the bound, 3× what this comment budgeted).
DENSE_V_BOUND = 16384
DENSE_E_BOUND = 32 << 20


def _masked_a2_rowsums(adj, slab_floats: int = 64 << 20):
    """Row sums of (A² ∘ A) in row blocks: per block one slab sgemm
    ``adj[s:e] @ adj`` and its elementwise mask — ≤ ``slab_floats`` per
    slab (two ≤ 256 MiB transients at the default), never a full V×V A².
    Entries of A² are integers < 2²⁴, exact in float32; the row sums
    accumulate in float64. ``slab_floats`` is a test seam (forces the
    multi-block path on small fixtures); block is floored at one row."""
    import numpy as np

    n = adj.shape[0]
    out = np.zeros(n, dtype=np.float64)
    block = max(1, slab_floats // max(n, 1))
    for s in range(0, n, block):
        a_blk = adj[s : s + block]
        out[s : s + block] = ((a_blk @ adj) * a_blk).sum(
            axis=1, dtype=np.float64
        )
    return out


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-order supplier pairs, oriented a < b."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    return (
        li.join(l2, (li.l_orderkey == l2.o2) & (li.l_suppkey < l2.s2))
        .select(F.col("l_suppkey").alias("a"), F.col("s2").alias("b"))
        .distinct()
    )


def _count_dense(a_arr, b_arr) -> int:
    """Driver BLAS kernel over the dense symmetric adjacency:
    trace(A³)/6 as Σ row-sums of (A² ∘ A), slabbed — exact (module
    docstring), peak memory = adjacency + one slab."""
    import numpy as np

    a = np.asarray(a_arr, dtype=np.int64)
    b = np.asarray(b_arr, dtype=np.int64)
    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a) :]
    n = len(verts)
    adj = np.zeros((n, n), dtype=np.float32)
    adj[ai, bi] = 1.0
    adj[bi, ai] = 1.0
    total = int(round(float(_masked_a2_rowsums(adj).sum())))
    assert total % 6 == 0
    return total // 6


# Per-COMPONENT dense tier inside the distributed regime (round 8 — the
# ×100 probe killed both triangle keys: at ×100 the projection is 100
# disjoint quasi-cliques of 1 000 suppliers each, V = 100k > the global
# dense bound, and the oriented-join tier's wedge fan-out on a
# near-complete component is Θ(V³) PER COMPONENT — ~1.7·10¹⁰ wedge rows,
# tools/probe_r8_x100.log. "Arboricity-bounded" is vacuous when the
# component IS a clique). Locally-dense/globally-sparse is the realistic
# community shape, so the distributed tier now splits by connected
# component: components small enough for a per-TASK float32 adjacency run
# the exact same slabbed BLAS kernel inside an Arrow ``applyInPandas``
# (distributed across executors — this is the dense driver tier made
# per-component and shipped to workers); only the large-component sparse
# remainder keeps the oriented joins, the regime they are right for.
DENSE_COMPONENT_V_BOUND = 4096  # 4096² × 4 B = 64 MiB adjacency per task


def _make_component_tri_kernel():
    """Factory returning the per-component kernel (pickle-by-value rule:
    an ``applyInPandas`` body must not reference module-level functions —
    executors driven from a foreign cwd cannot import this package — so
    the slab loop is inlined rather than calling _masked_a2_rowsums)."""

    def _component_tri(pdf, slab_floats=16 << 20):
        """One component's a<b edge frame → per-vertex (v, degree, tri).
        Identical math to the driver dense tier: deg = row-sum of A,
        T(v) = row-sum of (A² ∘ A)/2, slabbed so per-task transients stay
        ≤ 2 × 64 MiB beside the ≤ 64 MiB adjacency; A² entries are
        integers < 2²⁴ (exact in float32), sums accumulate in float64."""
        import numpy as np
        import pandas as pd

        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ai, bi = inv[: len(a)], inv[len(a) :]
        n = len(verts)
        adj = np.zeros((n, n), dtype=np.float32)
        adj[ai, bi] = 1.0
        adj[bi, ai] = 1.0
        deg = adj.sum(axis=1, dtype=np.float64).astype(np.int64)
        out = np.zeros(n, dtype=np.float64)
        block = max(1, slab_floats // max(n, 1))
        for s in range(0, n, block):
            blk = adj[s : s + block]
            out[s : s + block] = ((blk @ adj) * blk).sum(
                axis=1, dtype=np.float64
            )
        tri = np.rint(out / 2.0).astype(np.int64)
        return pd.DataFrame({"v": verts, "degree": deg, "tri": tri})

    return _component_tri


_component_tri = _make_component_tri_kernel()  # module alias for pytest


def _split_components(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the a<b edge list into (dense_e, sparse_e): dense_e carries a
    component label and contains exactly the edges of the small components
    (≤ DENSE_COMPONENT_V_BOUND vertices); sparse_e is everything else.
    ``hash_min_cc`` runs to its fixpoint, so both endpoints of an edge
    share a label and a label's edges are its whole induced component."""
    from flink_streaming_gnn_spark.graph.components import hash_min_cc

    labels = hash_min_cc(both_directions(e))  # (v, lbl), already checkpointed
    small = (
        labels.groupBy("lbl")
        .agg(F.count("*").alias("vc"))
        .filter(F.col("vc") <= DENSE_COMPONENT_V_BOUND)
        .select("lbl")
    )
    la = labels.select(F.col("v").alias("a"), "lbl")
    tagged = e.join(la, "a").localCheckpoint()
    dense_e = tagged.join(small, "lbl").select("lbl", "a", "b")
    sparse_e = tagged.join(small, "lbl", "left_anti").select("a", "b")
    return dense_e, sparse_e


def _dense_component_pv(dense_e: DataFrame) -> DataFrame:
    """Per-vertex (v, degree, tri) over the small components — one
    Arrow task per component, the BLAS kernel above."""
    kernel = _make_component_tri_kernel()
    return dense_e.groupBy("lbl").applyInPandas(
        lambda pdf: kernel(pdf), "v long, degree long, tri long"
    )


def _per_vertex_joins(e: DataFrame) -> DataFrame:
    """Per-vertex (v, degree, tri) by degree-ordered oriented two-join
    enumeration — the sparse-remainder tier (fan-out bounded by the
    remainder's degeneracy, which is what is left after the dense
    components are carved out)."""
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("d_b"))
    ranked = e.join(da, "a").join(db, "b")
    lo_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    ).localCheckpoint()  # referenced three times (two wedge arms + close)
    o2 = o.select(F.col("x").alias("x2"), F.col("y").alias("z"))
    wedges = o.join(o2, o.y == o2.x2).select("x", "y", "z")
    o3 = o.select(F.col("x").alias("x3"), F.col("y").alias("z3"))
    tris = wedges.join(o3, (wedges.x == o3.x3) & (wedges.z == o3.z3))
    tri_v = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("tri"))
    )
    return deg.join(tri_v, "v", "left").select(
        "v",
        "degree",
        F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
    )


def _count_distributed(e: DataFrame) -> DataFrame:
    """Degree-ordered orientation + two equi-joins; returns a 1-row
    (n_triangles) frame. Fan-out per wedge vertex is arboricity-bounded."""
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    # orient toward the higher-(degree, id) endpoint
    ranked = e.join(da, "a").join(db, "b")
    lo_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    )
    o1 = o
    o2 = o.select(F.col("x").alias("x2"), F.col("y").alias("z"))
    wedges = o1.join(o2, o1.y == o2.x2).select("x", "y", "z")
    o3 = o.select(F.col("x").alias("x3"), F.col("y").alias("z3"))
    # a triangle with rank order u<v<w appears exactly once as the path
    # u→v→w; its closing edge u–w is oriented u→w (u precedes w), so one
    # equi-join on (x, z) completes the count
    tris = wedges.join(o3, (wedges.x == o3.x3) & (wedges.z == o3.z3))
    return tris.agg(F.count("*").cast("long").alias("n_triangles"))


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph summary: projected edge count + triangle count."""
    e = _supplier_edges(spark, sf_dir).persist()
    n_edges = e.count()
    n_verts = (
        e.select(F.col("a").alias("v")).unionAll(e.select(F.col("b").alias("v")))
        .distinct()
        .count()
    )
    if n_verts <= DENSE_V_BOUND and n_edges <= DENSE_E_BOUND:
        pdf = e.toPandas()  # geometry-bounded by the guard; Arrow transfer
        tri = _count_dense(pdf["a"].to_numpy(), pdf["b"].to_numpy())
    else:
        # component-blocked distributed tier (module comment above):
        # executor-side BLAS for small components (Σtri = 3T per
        # component), oriented joins only for the sparse remainder
        dense_e, sparse_e = _split_components(e)
        dense_tri = (
            _dense_component_pv(dense_e)
            .agg(F.coalesce(F.expr("sum(tri) div 3"), F.lit(0)).alias("t"))
            .collect()[0][0]  # 1-row summary
        )
        sparse_tri = _count_distributed(sparse_e).collect()[0][0]
        tri = int(dense_tri) + int(sparse_tri)
    e.unpersist()
    return spark.createDataFrame(
        [(n_edges, tri)], schema="n_edges long, n_triangles long"
    )


QUERIES = {"graph_triangle_count": graph_triangle_count}

ORACLE = {
    "graph_triangle_count": """
        WITH pairs AS (
            SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
            FROM lineitem l1
            JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT)
                FROM pairs e1
                JOIN pairs e2 ON e1.b = e2.a
                JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
}
