"""Deterministic random walks (DeepWalk/node2vec-style corpus generation —
the classical unsupervised companion to the reference's GNN embeddings;
SURVEY.md §2A A3/A10 consume exactly such per-vertex context sequences).

A "random" walk that is reproducible across engines: at each step the
walker at vertex ``cur`` moves to the out-neighbor ``u`` minimizing
``md5(cur || '|' || u || '|' || step)`` — a content-hash draw that is
uniform over neighbors, independent across steps (the step tag reshuffles
the order), and byte-identical in Spark and DuckDB, so the full walk table
hash-matches the oracle.

Spark-first shape: each step is one equi-join on the current frontier's
vertex + one WindowGroupLimit rank (row_number ≤ 1 per walker) — the same
pushed-down top-1-per-key pattern as ``graph_neighbor_sample``. WALK_LEN
is a compile-time constant, so the plan is a fixed acyclic chain (no
driver iteration). Walks that reach a sink vertex keep NULL continuations
(left joins), matching the oracle.

At 100 TB: per-step cost is |walkers| × avg-degree through a hash join;
the frontier never exceeds the seed count, and the rank is top-1 per
walker (no full sort). Seeds here are a deterministic 1-in-50 id slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans import truncate

SEED_MOD = 50  # seeds = vertices with v % SEED_MOD == 0
WALK_LEN = 3  # steps taken after the seed


def _step(frontier: DataFrame, e: DataFrame, cur_col: str, step: int) -> DataFrame:
    """Extend each walk by one hash-drawn neighbor of ``cur_col`` (NULL if
    the walker sits on a sink or an already-dead walk)."""
    nxt = e.select(
        F.col("src_v").alias("_cur"), F.col("dst_v").alias(f"v{step}")
    )
    joined = frontier.join(nxt, frontier[cur_col] == nxt._cur, "left")
    h = F.md5(
        F.concat_ws("|", F.col(cur_col), F.col(f"v{step}"), F.lit(str(step)))
    )
    w = Window.partitionBy("seed").orderBy(h.asc_nulls_last(), F.col(f"v{step}").asc_nulls_last())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cur")
    )


def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_vertex_embeddings(spark, sf_dir).distinct()
    seeds = (
        e.select(F.col("src_v").alias("seed"))
        .filter(F.col("seed") % SEED_MOD == 0)
        .distinct()
    )
    walks = seeds
    prev = "seed"
    for step in range(1, WALK_LEN + 1):
        walks = _step(walks, e, prev, step)
        prev = f"v{step}"
    return walks.select("seed", *[f"v{s}" for s in range(1, WALK_LEN + 1)])


# the walk twins' head: s0 holds each seed as the walk's vertex 0
_WALK_HEAD = f"""{EDGES_V_CTE},
        e AS (SELECT DISTINCT src_v, dst_v FROM edges_v),
        seeds AS (
            SELECT DISTINCT src_v AS seed FROM e WHERE src_v % {SEED_MOD} = 0
        ),
        s0 AS (SELECT seed, seed AS v0 FROM seeds)"""
_WALK_COLS = ", ".join(["seed"] + [f"v{s}" for s in range(1, WALK_LEN + 1)])


def _uniform_step_sql(step: int) -> str:
    """Walk step ``step``: each walk's min-hash draw over its last
    vertex's out-edges."""
    return f"""s{step} AS (
            SELECT * EXCLUDE (rn) FROM (
                SELECT f.*, e.dst_v AS v{step},
                       row_number() OVER (
                           PARTITION BY f.seed
                           ORDER BY md5(CAST(f.v{step - 1} AS VARCHAR) || '|' ||
                                        CAST(e.dst_v AS VARCHAR) || '|' || '{step}')
                                    NULLS LAST,
                                    e.dst_v NULLS LAST
                       ) AS rn
                FROM s{step - 1} f LEFT JOIN e ON e.src_v = f.v{step - 1}
            ) WHERE rn = 1
        )"""


def _walk_oracle_sql() -> str:
    return f"""
        WITH {truncate.unroll(_WALK_HEAD, _uniform_step_sql, WALK_LEN)}
        SELECT {_WALK_COLS} FROM s{WALK_LEN}
    """


# node2vec second-order bias (Grover & Leskovec 2016): with return
# parameter p=1/2 and in-out parameter q=2, the unnormalized next-hop
# weights (return to prev, stay near prev, explore outward) are
# (1/p, 1, 1/q) = (2, 1, 1/2) — scaled ×2 to the EXACT integer replica
# counts below, so the weighted draw reduces to a uniform min-hash draw
# over replicated candidates (no float sampling math anywhere).
N2V_REPLICAS_RETURN = 4
N2V_REPLICAS_COMMON = 2
N2V_REPLICAS_EXPLORE = 1


def _biased_step(
    frontier: DataFrame, e: DataFrame, prev_col: str, cur_col: str, step: int
) -> DataFrame:
    """One second-order step: candidates from ``cur``, weighted by their
    relation to ``prev`` (return / distance-1 / explore), drawn by min
    md5 over integer-weight replicas — exact discrete node2vec sampling,
    byte-identical across engines."""
    nxt = e.select(F.col("src_v").alias("_cur"), F.col("dst_v").alias(f"v{step}"))
    cand = frontier.join(nxt, frontier[cur_col] == nxt._cur, "left")
    pe = e.select(F.col("src_v").alias("_pa"), F.col("dst_v").alias("_pb"))
    cand = cand.join(
        pe,
        (cand[prev_col] == pe._pa) & (cand[f"v{step}"] == pe._pb),
        "left",
    ).withColumn("_common", F.col("_pb").isNotNull())
    k = (
        F.when(F.col(f"v{step}") == F.col(prev_col), F.lit(N2V_REPLICAS_RETURN))
        .when(F.col("_common"), F.lit(N2V_REPLICAS_COMMON))
        .otherwise(F.lit(N2V_REPLICAS_EXPLORE))
    )
    reps = cand.withColumn(
        "_r",
        F.explode_outer(F.when(F.col(f"v{step}").isNotNull(), F.sequence(F.lit(0), k - 1))),
    )
    h = F.md5(
        F.concat_ws(
            "|",
            F.col(prev_col),
            F.col(cur_col),
            F.col(f"v{step}"),
            F.lit(str(step)),
            F.col("_r"),
        )
    )
    w = Window.partitionBy("seed").orderBy(
        h.asc_nulls_last(), F.col(f"v{step}").asc_nulls_last()
    )
    return (
        reps.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cur", "_pa", "_pb", "_common", "_r")
    )


def graph_node2vec_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec-biased walks: first hop uniform (no prev yet), later hops
    second-order p/q-weighted. Same fixed acyclic join chain as
    graph_random_walk plus one edge-existence left join per step (the
    distance-1 test); per-step fan-out ≤ degree × 4 replicas."""
    e = derive_vertex_embeddings(spark, sf_dir).distinct()
    seeds = (
        e.select(F.col("src_v").alias("seed"))
        .filter(F.col("seed") % SEED_MOD == 0)
        .distinct()
    )
    walks = _step(seeds, e, "seed", 1)  # first hop: uniform
    prev = "seed"
    for step in range(2, WALK_LEN + 1):
        walks = _biased_step(walks, e, prev, f"v{step - 1}", step)
        prev = f"v{step - 1}"
    return walks.select("seed", *[f"v{s}" for s in range(1, WALK_LEN + 1)])


def _biased_step_sql(step: int) -> str:
    """Walk step ``step`` ≥ 2: the min-hash draw over the last vertex's
    out-edges, each replicated by its node2vec weight."""
    prev, cur = f"v{step - 2}", f"v{step - 1}"
    return f"""s{step} AS (
            SELECT * EXCLUDE (r, rn) FROM (
                SELECT f.*, c.v{step}, r.r,
                       row_number() OVER (
                           PARTITION BY f.seed
                           ORDER BY md5(CAST(f.{prev} AS VARCHAR) || '|' ||
                                        CAST(f.{cur} AS VARCHAR) || '|' ||
                                        CAST(c.v{step} AS VARCHAR) || '|' ||
                                        '{step}' || '|' ||
                                        CAST(r.r AS VARCHAR))
                                    NULLS LAST,
                                    c.v{step} NULLS LAST
                       ) AS rn
                FROM s{step - 1} f
                LEFT JOIN LATERAL (
                    SELECT e.dst_v AS v{step},
                           CASE WHEN e.dst_v = f.{prev}
                                    THEN {N2V_REPLICAS_RETURN}
                                WHEN EXISTS (SELECT 1 FROM e pe
                                             WHERE pe.src_v = f.{prev}
                                               AND pe.dst_v = e.dst_v)
                                    THEN {N2V_REPLICAS_COMMON}
                                ELSE {N2V_REPLICAS_EXPLORE} END AS k
                    FROM e WHERE e.src_v = f.{cur}
                ) c ON TRUE
                LEFT JOIN LATERAL (
                    SELECT unnest(generate_series(0, c.k - 1)) AS r
                ) r ON TRUE
            ) WHERE rn = 1
        )"""


def _n2v_oracle_sql() -> str:
    # step 1 is uniform (graph_random_walk's first step); round r is step r + 1
    chain = truncate.unroll(
        f"{_WALK_HEAD},\n        {_uniform_step_sql(1)}",
        lambda r: _biased_step_sql(r + 1),
        WALK_LEN - 1,
    )
    return f"""
        WITH {chain}
        SELECT {_WALK_COLS} FROM s{WALK_LEN}
    """


QUERIES = {
    "graph_random_walk": graph_random_walk,
    "graph_node2vec_walk": graph_node2vec_walk,
}
ORACLE = {
    "graph_random_walk": _walk_oracle_sql(),
    "graph_node2vec_walk": _n2v_oracle_sql(),
}
