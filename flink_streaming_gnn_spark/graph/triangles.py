"""Triangles on the supplier co-order projection (SURVEY.md §2B graph
ops; ``edges.supplier_edges``: suppliers are adjacent when they ship
lineitems of the same order — the bipartite purchase graph itself has no
odd cycles).

One per-vertex pipeline, ``per_vertex_triangles(e) -> (v, degree,
tri)``, serves both triangle keys: ``graph_triangle_count`` reads
Σdegree/2 and Σtri/3 off it, and ``graph/clustering.py`` reads
2·tri/(d(d−1)) per vertex.

Why not plain wedge enumeration: the projection is a SMALL-V DENSE graph
whenever the corpus has many more orders than suppliers — at sf0.1,
150k orders × ≤21 pairs each cover 99.8% of the C(1000,2) possible
supplier pairs, so any wedge enumeration materializes Θ(V·deg²) ≈ 10⁸
rows to count C(V,3)-sized structure (the ordered two-join took 268 s
at ×10). Bit-set intersection is the right tool there: T(v) = the v-th
row sum of (A² ∘ A)/2 over the float32 adjacency — one slabbed BLAS
matmul per row block (``_component_tri``). Every A² entry is an integer
≤ V < 2²⁴ (exact in float32) and the row sums accumulate in float64, so
the counts are exact.

The tier choice, on the observed edge count and the vertex count:

* **Driver tier** (V ≤ 16Ki vertices AND E ≤ 32Mi distinct edges — a
  geometry-bounded driver read via one Arrow ``toPandas``, the
  ``graph_mst_boruvka`` local-tail discipline): ``_component_tri`` over
  the whole graph. The ×10 corpus (V = 10 000, E = 4.5M) runs here.
* **Component tier** (anything bigger): ``_split_components`` labels
  connected components with ``hash_min_cc``. Components of ≤ 4096
  vertices run ``_component_tri`` per component inside an Arrow
  ``applyInPandas`` — the driver tier made per-component and shipped to
  executors; only the large-component remainder runs
  ``_per_vertex_joins``, the degree-ordered oriented two-join
  (Chiba–Nishizeki: each edge points at its higher-(degree, id)
  endpoint, so wedge fan-out is bounded by the remainder's degeneracy).
  The split matters because locally-dense/globally-sparse is the
  realistic community shape: the ×100 projection is 100 disjoint
  quasi-cliques of 1 000 suppliers, V = 100k is past the driver bound,
  and the oriented joins on a near-complete component emit about
  C(1000, 3) ≈ 1.7·10⁸ wedge rows per component, 1.7·10¹⁰ in all
  ("arboricity-bounded" is vacuous when the component IS a clique).
  Before the split both keys died at ×100 after 343 s and 303 s; with
  it they finished in 58 s and 76 s on the same host.

Components partition the vertex set, so the two halves of the component
tier union into one per-vertex frame. The projection itself (lineitem ⋈
lineitem on orderkey) is bounded by per-order line counts (≤7 in
TPC-H-like data), so it scales linearly in orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import (
    SUPPLIER_PAIRS_CTE,
    both_directions,
    supplier_edges,
)

# driver-tier bounds: float32 adjacency ≤ 16Ki² × 4 B = 1 GiB (transient,
# driver has 128 GiB), edge list ≤ 32Mi rows over Arrow — both
# geometry-bounded driver reads. The masked-A² pass runs in row slabs of
# ≤ 64Mi floats, so peak driver memory at the bound is the 1 GiB
# adjacency + two ≤ 256 MiB slab transients, not a second V×V matrix.
DENSE_V_BOUND = 16384
DENSE_E_BOUND = 32 << 20
DENSE_COMPONENT_V_BOUND = 4096  # 4096² × 4 B = 64 MiB adjacency per task


def _make_component_tri_kernel():
    """Factory returning the numpy kernel (pickle-by-value rule: an
    ``applyInPandas`` body must not reference module-level functions —
    executors driven from a foreign cwd cannot import this package)."""

    def _component_tri(pdf, slab_floats=16 << 20):
        """An a<b edge frame → per-vertex (v, degree, tri): deg = row sum
        of A, T(v) = row sum of (A² ∘ A)/2, computed in row slabs of
        ≤ ``slab_floats`` floats, so the transients beside the adjacency
        are two slabs (2 × 64 MiB at the per-task default), never a full
        V×V A²; the block is floored at one row. Exact (module
        docstring)."""
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


_component_tri = _make_component_tri_kernel()  # driver tier and pytest


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
    Arrow task per component, the numpy kernel above."""
    kernel = _make_component_tri_kernel()
    return dense_e.groupBy("lbl").applyInPandas(
        lambda pdf: kernel(pdf), "v long, degree long, tri long"
    )


def _per_vertex_joins(e: DataFrame) -> DataFrame:
    """Per-vertex (v, degree, tri) by degree-ordered oriented two-join
    enumeration — the large-component remainder (fan-out bounded by the
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
    # a triangle with rank order x<y<z appears exactly once as the path
    # x→y→z; its closing edge is oriented x→z, so one equi-join on
    # (x, z) closes it
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


def per_vertex_triangles(e: DataFrame) -> DataFrame:
    """``(v, degree, tri)`` for every vertex of the a<b edge frame ``e``:
    its degree and the number of triangles through it. ``e`` is
    checkpointed once and its row count observed on that job; the tier
    is chosen here and nowhere else (module docstring)."""
    rows = Observation()
    e = e.observe(rows, F.count("*").alias("n")).localCheckpoint()
    if (
        rows.get["n"] <= DENSE_E_BOUND
        and e.select(F.explode(F.array("a", "b"))).distinct().count()
        <= DENSE_V_BOUND
    ):
        # geometry-bounded by the guard; slab budget as module comment
        pdf = _component_tri(e.toPandas(), slab_floats=64 << 20)
        return e.sparkSession.createDataFrame(pdf, "v long, degree long, tri long")
    dense_e, sparse_e = _split_components(e)
    return _dense_component_pv(dense_e).unionByName(_per_vertex_joins(sparse_e))


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph summary: projected edge count + triangle count (each
    triangle is counted once at each of its three vertices)."""
    return per_vertex_triangles(supplier_edges(spark, sf_dir)).agg(
        F.coalesce(F.expr("sum(degree) div 2"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.expr("sum(tri) div 3"), F.lit(0)).cast("long").alias("n_triangles"),
    )


QUERIES = {"graph_triangle_count": graph_triangle_count}

ORACLE = {
    "graph_triangle_count": f"""
        WITH {SUPPLIER_PAIRS_CTE}
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT)
                FROM pairs e1
                JOIN pairs e2 ON e1.b = e2.a
                JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
}
