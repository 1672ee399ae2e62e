#!/usr/bin/env python
"""Physical-plan audit — the 100 TB sanity gate (SURVEY.md §4).

For each headline query, inspect the formatted physical plan and assert the
scale-critical properties Catalyst should be delivering:

- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- small dimensions join via BroadcastHashJoin (no shuffle of the big side);
- plans run inside WholeStageCodegen spans;
- no CartesianProduct / BroadcastNestedLoopJoin outside the queries that
  are deliberately theta-joins over bounded candidate sets.

Broadcast assertions are *sf-conditional* for scale-dependent tables
(customer, embeddings — anything gated by plans.hints.maybe_broadcast):
BroadcastHashJoin is required only when the table's on-disk size at the
audited sf_dir is under the gate threshold; above it, a shuffle join is the
correct plan and is accepted. Asserting "broadcast always" would enshrine
a plan that OOMs at 100 TB (round-1 VERDICT, "What's wrong" #1).

Run: python tools/explain_audit.py [sf_dir]   (default /root/testdata/sf0.1)
Exit 1 if any expectation fails — wire into CI next to pytest.
"""

from __future__ import annotations

import os
import sys
import re

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_streaming_gnn_spark import registry  # noqa: E402
from flink_streaming_gnn_spark.session import get_spark  # noqa: E402

# query -> (must_contain regexes, must_not_contain regexes)
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "agg_pricing_summary": (
        # pushed scan filter + map-side partial aggregation before the one
        # exchange (AQE's unexecuted formatted plan omits codegen spans, so
        # partial_sum is the checkable marker of map-side combine)
        [r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", r"partial_sum", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "join_3way_revenue": (
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "join_multiway_star": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "scan_projection_pushdown": (
        [r"ReadSchema: struct<l_orderkey:bigint,l_quantity"],
        [r"l_comment"],  # pruned column must not be read
    ),
    "window_topk_per_group": ([r"WindowGroupLimit"], [r"CartesianProduct"]),
    "graph_2hop_neighbor_agg": (
        # the dst-join is a shuffled hash/merge join BY DESIGN (per-vertex
        # aggregate is unbounded at scale — never broadcast it);
        # pre-aggregation shows as partial_sum before it. The customer-side
        # broadcast is asserted conditionally via GATED_BROADCASTS.
        [r"HashAggregate", r"partial_sum"],
        [r"CartesianProduct"],
    ),
    "semi_anti": ([r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin"], []),
    "dedup_exact": ([r"HashAggregate"], [r"Exchange hashpartitioning\(text"]),
    "tumbling_window_events": ([r"HashAggregate"], [r"CartesianProduct"]),
    "sessionize_approx": ([], [r"CartesianProduct"]),
    # Arrow-batched BLAS scorer: one MapInPandas over the collection scan
    # (probes ship in the closure — no join at all), per-probe top-k pushed
    # down as WindowGroupLimit.
    "vector_knn_cosine": (
        [r"MapInPandas", r"WindowGroupLimit"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Join"],
    ),
    "graph_1hop_agg": ([], [r"CartesianProduct"]),
    "graph_sage_layer": ([r"ArrowEvalPython|FlatMapsInPandas|BatchEvalPython"], [r"CartesianProduct"]),
    # curation funnel: Catalyst must fuse dedup-survivor + quality gate +
    # sampling gate into ONE scan of documents — no join anywhere, exactly
    # one window over the single scan
    "quality_filter_pipeline": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"CartesianProduct"],
    ),
    # packing is one windowed cumsum per shard: no join, no extra exchanges
    "pack_sequences": ([r"Window"], [r"Join"]),
    # decontamination: equi-join on the shingle only — never a cross join
    "decontam_ngram": ([r"HashAggregate"], [r"CartesianProduct", r"NestedLoop"]),
    # fixed-fanout sampling: per-vertex top-K must ride WindowGroupLimit
    "graph_neighbor_sample": ([r"WindowGroupLimit"], [r"CartesianProduct"]),
    # GAT layer is pure JVM (zip_with/aggregate + windows) — any *EvalPython
    # node means the dot products fell off the codegen path
    "graph_gat_layer": (
        [r"Window", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # interval join: band condition must ride an equi-join on user, never a
    # nested-loop over the full event stream
    "stream_stream_interval_join": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # ROLLUP: one Expand + one aggregate pass, not one scan per tier
    "rollup_hypertable_events": ([r"Expand", r"HashAggregate"], [r"Union"]),
    # CDC snapshot: rank-1 filter pushed below the sort
    "cdc_latest_snapshot": ([r"WindowGroupLimit"], [r"Join"]),
    # PII scrub is a map-only pass: zero exchanges
    "text_pii_redact": ([], [r"Exchange", r"Join"]),
    # gap-fill: calendar explode (Generate) + one fill window; raw events
    # scanned once, never cross-joined against the calendar
    "ts_gapfill_resample": (
        [r"Window", r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # salted join: dim replicated via zero-shuffle Generate; the join must
    # stay an equi-join on (key, salt)
    "join_salted_skew": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # bigram LM: pure JVM explode+agg+join — Python anywhere means the
    # count joins fell off the codegen path
    "text_ngram_lm_score": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # corr/covar/stddev: single agg pass with map-side partials
    "agg_corr_covar": ([r"HashAggregate", r"partial_corr"], [r"Join"]),
    # distribution windows: month filter must reach the parquet scan
    "win_distribution": (
        [r"Window", r"PushedFilters: \[.*o_orderdate"],
        [r"Join"],
    ),
    # funnel: conditional-min agg + global rollup, no join anywhere
    "funnel_conversion": ([r"HashAggregate"], [r"Join", r"EvalPython"]),
    "cohort_retention": ([r"HashAggregate"], [r"CartesianProduct", r"EvalPython"]),
    # Adamic-Adar: wedge equi-join + TopK (TakeOrdered), never a cross join
    "graph_adamic_adar": (
        [r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # PQ: Arrow-batched encode+score over the scan (probes in closure, no
    # join), per-probe top-k pushed down
    "simsearch_pq": (
        [r"MapInPandas", r"WindowGroupLimit"],
        [r"CartesianProduct", r"Join"],
    ),
    "agg_approx_quantile": ([r"HashAggregate"], [r"Join"]),
    # hive-partitioned scan: the lang predicate must prune partitions at
    # planning time, not filter rows post-scan
    "scan_partition_pruning": (
        [r"PartitionFilters: \[.*lang"],
        [r"Join", r"Exchange"],
    ),
    # bitwise family: map-only projection, zero exchanges
    "fn_bitwise": ([], [r"Exchange", r"Join"]),
    # correlated EXISTS/NOT EXISTS must decorrelate to semi/anti hash
    # joins — a CartesianProduct or per-row subquery loop means Catalyst
    # failed to rewrite
    "sql_correlated_exists": (
        [r"LeftSemi", r"LeftAnti"],
        [r"CartesianProduct"],
    ),
    # GCN layer is 100% JVM: any *EvalPython/InPandas node means the layer
    # fell off the codegen path; broadcast of embeddings gated below
    "graph_gcn_layer": (
        [r"HashAggregate", r"partial_sum"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    "graph_temporal_degree": ([r"HashAggregate"], [r"CartesianProduct"]),
    # decay agg: the 1-row ref-time broadcast legitimately plans as a BNLJ;
    # forbid only a real cross product and any Python
    "graph_time_decayed_agg": (
        [r"HashAggregate", r"partial_sum"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # per-walker top-1 must ride WindowGroupLimit, steps are equi-joins
    "graph_random_walk": ([r"WindowGroupLimit"], [r"CartesianProduct"]),
    # EWMA/z-score: one window sort per user, no join, no Python
    "ts_ewma": ([r"Window"], [r"Join", r"EvalPython", r"InPandas"]),
    "ts_anomaly_zscore": ([r"Window"], [r"Join", r"EvalPython", r"InPandas"]),
    # melt = one Expand after the agg, never a per-measure Union of scans
    "unpivot_melt": ([r"Expand"], [r"Union", r"CartesianProduct"]),
    # BM25: explode + hash aggs + bounded TopK; 1-row avgdl broadcast is a
    # legitimate BNLJ; no Python anywhere
    "text_bm25_score": (
        [r"Generate", r"HashAggregate", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # embedding prep is map-only: zero exchanges, zero joins, zero Python
    "emb_l2_normalize": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    "emb_quantize_int8": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    # covariance moments: the d² posexplode expansion must collapse in a
    # partial HashAggregate before any exchange; the mean/count joins are
    # dimension-bounded broadcasts, never a shuffle join or Python
    "emb_pca_covariance": (
        [r"Generate", r"HashAggregate", r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"EvalPython", r"InPandas"],
    ),
    # CUBE: one Expand feeding one hash agg — no join, no Python, and no
    # Union-of-groupbys fallback
    "agg_cube": (
        [r"Expand", r"HashAggregate"],
        [r"Union", r"Join", r"EvalPython", r"InPandas"],
    ),
    # blocked fuzzy match: the self-join must be an equi-join on the block
    # key (sorted-neighborhood blocking), never an all-pairs product; the
    # levenshtein filter is JVM-side
    "fuzzy_match_levenshtein": (
        [r"Join"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython", r"InPandas"],
    ),
    # interpolation: calendar Generate + anchor windows, no Python
    "ts_linear_interpolate": (
        [r"Generate", r"Window"],
        [r"EvalPython", r"InPandas", r"CartesianProduct"],
    ),
    # rewritten candidate generator: minhash sigs in one hash agg over the
    # exploded shingles, band join is an equi-join — all JVM
    "dedup_ngram_jaccard": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # round-5: butterfly census — wedge equi-join + hash aggs, all JVM,
    # never a cartesian (the wedge join is on the shared customer)
    "graph_butterfly_count": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    "graph_butterfly_per_vertex": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # round-5: containment — prefix-filter equi-join on the shingle, all
    # JVM; the only Generate nodes are the shingle explodes
    "dedup_containment": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # round-5: KS drift — bucketed cumulative windows partitioned by the
    # literal-boundary bucket id (the final 1-row agg is the only
    # SinglePartition exchange; the window itself shuffles on _pid)
    "dq_ks_drift": (
        [r"Window", r"hashpartitioning\(_pid"],
        [r"Join", r"EvalPython"],
    ),
    # GIN: same all-JVM discipline as GCN; broadcast gated below
    "graph_gin_layer": (
        [r"HashAggregate", r"partial_sum"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # LATERAL top-N must decorrelate to WindowGroupLimit, never a per-row
    # re-scan (BNLJ/cartesian)
    "sql_lateral_topn": (
        [r"WindowGroupLimit"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # native recursion: the UnionLoop operator with an equi-join per step
    "sql_recursive_cte": ([r"UnionLoop"], [r"CartesianProduct"]),
    # sketch agg: ObjectHashAggregate (sketch state), single pass, no join
    "agg_hll_sketch_rollup": ([r"ObjectHashAggregate"], [r"Join"]),
    # profiling/rules: ONE scan, ONE fused aggregate pass, no join
    "profile_table_stats": ([r"HashAggregate"], [r"Join"]),
    "dq_constraint_check": ([r"HashAggregate"], [r"Join", r"Union"]),
    # manifest is per-row arithmetic riding one scan: zero exchanges
    "multimodal_asset_manifest": ([], [r"Exchange", r"Join", r"EvalPython"]),
    # report: aggregate passes only, no raw-corpus join
    "corpus_stats_report": ([r"HashAggregate"], [r"SortMergeJoin", r"EvalPython"]),
    # OLS: one mergeable agg pass after the equi-join
    "agg_linear_regression": ([r"HashAggregate", r"partial_regr"], [r"CartesianProduct"]),
    "graph_assortativity": ([r"HashAggregate"], [r"CartesianProduct"]),
    # two-tier triangle readout: at audit scale the driver tier fires
    # (BLAS kernel on a geometry-bounded driver read) and returns its
    # per-vertex rows as a local relation (createDataFrame of a pandas
    # frame), so Catalyst's ConvertToLocalRelation folds the degree
    # filter and the JVM division/rounding into it: the plan is one
    # LocalTableScan — still no cartesian and no Python in the plan
    # (the join tier's explode→hash-agg shape is pinned by the
    # tier-parity pytest instead)
    "graph_clustering_coefficient": (
        [r"LocalTableScan"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # max-pool layer: mergeable partial_max before the one dst shuffle; all JVM
    "graph_sage_pool_layer": (
        [r"HashAggregate", r"partial_max"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # ACF: daily partial agg, ONE window sort, tiny final agg — no join
    "ts_autocorrelation": ([r"HashAggregate", r"Window"], [r"Join"]),
    # range search: scorer + filter only — no shuffle at all after the scan
    "simsearch_range_cosine": ([r"InPandas"], [r"Exchange", r"Join", r"Window"]),
    # bitmap distinct: two agg levels (bucket bitmaps, then counts); no join
    "agg_bitmap_distinct": ([r"HashAggregate"], [r"Join"]),
    # bucketed join: the orderkey join must consume the bucketed layout
    # directly — no Exchange on either join key (the later groupBy(supplier)
    # legitimately shuffles once)
    "sink_bucketed_join": (
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"Exchange hashpartitioning\(l_orderkey", r"Exchange hashpartitioning\(o_orderkey"],
    ),
    # temperature mix: per-source aggs + broadcast-joined 1-row normalizers
    "mix_temperature_sampling": ([r"HashAggregate"], [r"SortMergeJoin", r"EvalPython"]),
    # real decoders: ONE Arrow mapInPandas pass, no shuffle, no row-mode Python
    "multimodal_ppm_decode": ([r"InPandas"], [r"Exchange", r"Join", r"BatchEvalPython"]),
    "multimodal_wav_decode": ([r"InPandas"], [r"Exchange", r"Join", r"BatchEvalPython"]),
    # basket mining: pair generation and count joins are equi-joins; the
    # only nested-loop is the broadcast of the 1-ROW basket-total scalar
    "market_basket_lift": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython"],
    ),
    # SQL PIVOT lowers to Expand/conditional agg — one scan, no join
    "sql_pivot_wide": ([r"HashAggregate"], [r"Join"]),
    # repeated spans: explode + ONE hash agg; span text never in the shuffle
    "dedup_repeated_spans": ([r"Generate", r"HashAggregate"], [r"Join", r"EvalPython"]),
    # --- round-3 additions ---
    # Bloom prefilter: the membership test must sit in a JVM Filter
    # (bit_get over the literal bitset) ahead of the exact join; no Python
    "join_bloom_prefilter": (
        [r"bit_get|getbit", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # Gopher rules: map-only — one scan, zero exchanges, zero Python
    "text_quality_gopher": ([], [r"Join", r"Exchange", r"EvalPython", r"InPandas"]),
    # MAD outliers: percentile aggs + user-keyed equi-joins only
    "ts_anomaly_mad": ([r"HashAggregate"], [r"CartesianProduct", r"EvalPython"]),
    # entropy: map-side stack (Generate/Expand) into two agg levels, no scan-per-column
    "profile_column_entropy": ([r"HashAggregate"], [r"CartesianProduct", r"EvalPython"]),
    # periodogram: ONE agg pass, cos/sin unrolled as JVM partial_sums, no join
    "ts_periodogram": ([r"HashAggregate", r"partial_sum"], [r"Join", r"EvalPython"]),
    # exact decimal: same one-exchange shape as the double pricing summary
    "agg_decimal_exact": ([r"HashAggregate", r"partial_sum"], [r"Join"]),
    # PMI: map-side pair Generate + hash aggs; vocabulary joins are equi
    "text_bigram_pmi": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython"],
    ),
    # ZCA projection: after the (driver-side) moment pass the returned plan
    # is a pure map — no exchange, no join, no Python on the data path
    "emb_whitening": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    # --- round 4 ---
    # reciprocity: equi self-join + hash aggs, all JVM, never a theta join
    "graph_reciprocity": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # projection: the top-k-per-customer degree bound must compile to the
    # rank-pushdown operator (partial top-k before the exchange), and the
    # bounded self-join must stay an equi join
    "graph_bipartite_projection": (
        [r"WindowGroupLimit", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # rolling median: ONE user_id exchange feeding the bounded-frame window;
    # the frame materialization stays a JVM expression (no Python)
    "ts_rolling_median": ([r"Window"], [r"Join", r"EvalPython", r"InPandas"]),
    # weighted median: both windows ride the same returnflag partitioning
    "agg_weighted_median": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"EvalPython"],
    ),
    "ts_sax_symbolize": ([r"Window", r"HashAggregate"], [r"Join", r"EvalPython"]),
    "event_transition_matrix": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"EvalPython"],
    ),
    # distributed exact ntile (VERDICT r4 weak #1 fix): three bucket-local
    # row_number windows, literal quantile boundaries + offset map — the
    # plan must show NO unpartitioned window (Exchange SinglePartition)
    # and no ntile; the only global sort is the presentation orderBy
    # (rangepartitioning). The per-user HashAggregate sits behind the
    # localCheckpoint, so it is not visible in the final plan.
    "user_rfm_segments": (
        [r"Window", r"row_number"],
        [r"Join", r"EvalPython", r"Exchange SinglePartition", r"ntile"],
    ),
    # last-touch attribution: one user_id window (LOCF carry-forward) +
    # one bounded channel aggregate — no join, no Python
    "olap_attribution_last_touch": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"EvalPython", r"CartesianProduct"],
    ),
    # Theil–Sen: the corpus-sized pass is ONE hash agg to daily means;
    # the pairwise stage self-joins the calendar-bounded daily frame and
    # must broadcast (hinted) — never a sort-merge of a corpus-sized side
    "ts_theil_sen_trend": (
        [r"HashAggregate", r"BroadcastHashJoin"],
        [r"EvalPython", r"CartesianProduct", r"SortMergeJoin"],
    ),
    # z-order stats read back the clustered files: plain scan + one agg
    "sink_zorder_layout": ([r"HashAggregate"], [r"Join", r"EvalPython"]),
    # band join: the ε-bucket rewrite MUST be a broadcast equi-join on the
    # bucket id — a theta join (BNLJ/cartesian) means the rewrite regressed
    "join_band_epsilon": (
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # priority sample: rank predicate must push into WindowGroupLimit so
    # each task keeps k rows per stratum before the exchange
    "sample_priority_hash": (
        [r"WindowGroupLimit"],
        [r"Join", r"EvalPython"],
    ),
    # winnowing (round-4 rewrite): the whole scheme runs inside array
    # higher-order functions — the plan is ONE map-only scan + explode,
    # with NO exchange anywhere (the old explode-then-window shape
    # shuffled + sorted every k-gram hash; 306 s → 76 s at ×10)
    "text_winnowing_fingerprint": (
        [r"Generate"],
        [r"Exchange", r"Window", r"Join", r"EvalPython", r"InPandas"],
    ),
    # url parse: map-only; the scan must prune documents.text (the fat
    # column) — only the four metadata columns may be read
    "fn_url_parse": (
        [r"ReadSchema: struct<doc_id:bigint,lang:string,source:string,n_chars:bigint"],
        [r"Join", r"EvalPython", r"HashAggregate"],
    ),
    # --- round 4b ---
    # window funnel: windows + ONE equi self-join (the chain assembly);
    # never a theta join, never Python. The scan must prune down to the
    # three columns the funnel touches. ts scans as bigint on a corpus
    # with nanosecond event times (perfbench's generator), which
    # load_table reads with nanosAsLong.
    "cep_window_funnel": (
        [
            r"Window",
            r"ReadSchema: struct<ts:(timestamp_ntz|bigint),user_id:bigint,event_type:string",
        ],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    "cep_pattern_vshape": ([r"Window", r"HashAggregate"], [r"Join", r"EvalPython"]),
    # APPNP: per-round dst-keyed hash aggs with map-side partials; the
    # normalized edge list joins are equi joins
    "gnn_appnp_propagate": (
        [r"HashAggregate", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # GATv2: projections + softmax windows + combine, 100% JVM
    "graph_gatv2_layer": (
        [r"Window", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython"],
    ),
    # JL projection: map-only — no exchange, no join, no Python
    "emb_random_projection": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    # Hampel: one user_id exchange feeding the bounded-frame window
    "ts_hampel_filter": ([r"Window"], [r"Join", r"EvalPython", r"InPandas"]),
    # heavy hitters: the MG candidate pass is the ONE sanctioned Python
    # stage (Arrow mapInPandas); the recount must be a broadcast equi-join
    # — never a full-vocabulary exchange of the token stream before the
    # candidate filter. (The plan's one BroadcastNestedLoopJoin is the
    # deliberate 1-row scalar-total crossJoin for the n/K threshold — the
    # repo-wide accepted bounded pattern — so BNLJ is not forbidden here.)
    "agg_heavy_hitters": (
        [r"MapInPandas", r"BroadcastHashJoin", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    # NB training: pure hash aggs + small-side joins, no Python anywhere
    "ml_nb_train": (
        [r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # NB scoring: the classes cross-join is the deliberate bounded
    # |classes|-row broadcast; the likelihood join must be an equi join
    "ml_nb_score": (
        [r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # MA decomposition: hourly pre-agg with map-side partials before the
    # series-sized windows
    "ts_decompose_ma": (
        [r"HashAggregate", r"partial_count", r"Window"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # BPE encode: explode + literal replace chain + one doc agg, no Python
    "tokenizer_bpe_encode": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # kNN classify: the Arrow partial-top-K scorer + ranking/vote windows;
    # candidate generation must never be a relational cartesian
    "ml_knn_classify": (
        [r"MapInPandas", r"Window", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # condensation: label joins stay equi joins; the returned plan carries
    # no Python and no cartesian
    "graph_condensation_dag": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"EvalPython", r"InPandas"],
    ),
    # binary-quantized search: the probe side is a deliberate bounded
    # broadcast (N_PROBES rows); packing + hamming stay JVM expressions
    "simsearch_binary_hamming": (
        [r"Window"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # canonicalization + digests: map-only, no exchange, no join
    "fn_url_canonicalize": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    "fn_hash_digests": ([], [r"Exchange", r"Join", r"EvalPython", r"InPandas"]),
    # spectral entropy: same single-exchange agg shape as the periodogram
    "ts_spectral_entropy": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # rich club: one degree agg + one edge pass with the ladder as columns
    "graph_rich_club": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # skyline: distributed divide-and-conquer — the bucket-local sweep is a
    # PARTITIONED window (hashpartitioning on _bkt); the only
    # single-partition work is the final sweep over the tiny candidate set.
    # No join beyond the part↔lineitem equi-join, no Python.
    "olap_skyline_pareto": (
        [r"Window", r"hashpartitioning\(_bkt"],
        [r"EvalPython", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # Benford: one hash agg to 9 rows; windows run on the 9-row frame
    "dq_benford_firstdigit": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # JSD: both half-distributions in ONE conditional-count pass
    "dq_js_divergence": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # Bollinger/RSI: one distributed daily agg; rolling windows ride the
    # calendar-bounded series (single partition by design, |days| rows)
    "ts_bollinger_bands": (
        [r"HashAggregate", r"Window"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    "ts_rsi": (
        [r"HashAggregate", r"Window"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # DSIR: hashed features bound the LM to 64 rows — that join MUST be
    # broadcast; corpus passes are hash aggs, no Python anywhere
    "mix_dsir_importance": (
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"SortMergeJoin", r"EvalPython", r"CartesianProduct"],
    ),
    # decision stump: histogram split search — one distributed hash agg
    # to ≤32 bins (broadcast 1-row bounds), windows on the bin frame only
    "ml_decision_stump": (
        [r"HashAggregate", r"BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"EvalPython", r"InPandas"],
    ),
    # binaryFile ingest: a real DSv2 batch scan of the blob directory
    "source_binaryfile_ingest": (
        [r"Scan binaryFile"],
        [r"Join", r"EvalPython"],
    ),
    # position attribution: journey segmentation is windows over ONE
    # user_id exchange + a channel-bounded agg — join-free by design
    "olap_attribution_position": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"EvalPython", r"CartesianProduct"],
    ),
    # funnel time-to-convert: per-user first-touch row in ONE conditional
    # agg, then the stack/explode + stage-bounded percentile agg — no
    # self-join per stage pair
    "funnel_time_to_convert": (
        [r"HashAggregate", r"Generate"],
        [r"Join", r"EvalPython", r"CartesianProduct"],
    ),
    # multiple regression: all nine normal-equation moments in ONE pass
    # (partial aggregation map-side), closed-form solve is scalar math
    "agg_multiple_regression": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # path mining: two lag taps share ONE user-window sort; result agg
    # bounded by |event_type|^3 with the top-k rank pushed down
    "event_path_mining": (
        [r"Window", r"HashAggregate"],
        [r"Join", r"EvalPython", r"CartesianProduct"],
    ),
    # matryoshka recall: probes broadcast, BOTH cosines in one corpus
    # pass — a second scan for the truncated tier would double the read
    # (the tiny rank-set overlap join may plan as SMJ on 2·K·|probes|
    # rows — harmless; the forbid guards the corpus fan-out side)
    "emb_matryoshka_recall": (
        [r"BroadcastNestedLoopJoin", r"Window"],
        [r"EvalPython"],
    ),
    # image hamming groups: the banded candidate join must be an
    # EQUI-join on (band_idx, band) — a nested-loop means the pigeonhole
    # rewrite regressed (hashing itself is the one sanctioned InPandas)
    "dedup_image_hamming_pairs": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # PACF: one corpus hash agg to the daily series; K lag taps share
    # one window sort; the recursion is scalar math on a 1-row frame
    "ts_pacf_durbin_levinson": (
        [r"HashAggregate", r"Window"],
        [r"EvalPython", r"InPandas", r"CartesianProduct"],
    ),
    # motif census: wedge closure must be EQUI-joins on vertex ids over
    # the deduped edge list — no nested loop, no Python
    "graph_motif_ffl_cycle": (
        [r"HashAggregate"],
        [r"EvalPython", r"InPandas", r"CartesianProduct"],
    ),
    # A-ES weighted sample: GLOBAL top-K must plan as
    # TakeOrderedAndProject (per-task K + driver merge) — a rank-filter
    # window would single-reduce the whole corpus (measured 46.9 s ×10)
    "sample_weighted_ares": (
        [r"TakeOrderedAndProject"],
        [r"Join", r"EvalPython", r"HashAggregate", r"WindowGroupLimit"],
    ),
    # Theil: NO window, NO sort — the fully parallel inequality index
    # (one revenue agg + 1-row mean broadcast + one final agg)
    "agg_theil_index": (
        [r"HashAggregate", r"partial_"],
        [r"Window", r"EvalPython", r"SortMergeJoin"],
    ),
    # vocab richness: two hash aggs over the token stream, nothing else
    "text_vocab_richness": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"Window"],
    ),
    # Holt–Winters: K lag taps share ONE ordered window over the
    # calendar-bounded daily frame; corpus pass is the daily hash agg
    "ts_holt_winters": (
        [r"HashAggregate", r"Window"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # trimmed/winsorized: percentile cuts broadcast back — no sort, no
    # window; two aggregates and one 1-row broadcast join
    "agg_trimmed_winsorized_mean": (
        [r"HashAggregate", r"BroadcastNestedLoopJoin"],
        [r"Window", r"EvalPython", r"SortMergeJoin"],
    ),
    # vocab overlap: ONE token equi-join over the distinct projection;
    # per-source sizes broadcast
    "text_source_vocab_overlap": (
        [r"HashAggregate", r"BroadcastHashJoin"],
        [r"EvalPython", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # Mann-Whitney: bucket-local cumsum windows (hashpartitioning on
    # _pid), never an unpartitioned corpus window
    "dq_mann_whitney": (
        [r"Window", r"hashpartitioning\(_pid"],
        [r"EvalPython", r"CartesianProduct"],
    ),
    # chi-square independence: one conditional-count pass to the bounded
    # contingency table; windows only on that frame
    "dq_chi2_independence": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # top movers: fact pass with broadcast dims, per-nation lag window,
    # global top-k as TakeOrderedAndProject
    "olap_top_movers": (
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"EvalPython"],
    ),
    # new vs returning: distinct + first-day agg + broadcast-GATED join
    # (|users| grows with the corpus — maybe_broadcast decides)
    "olap_new_vs_returning": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"EvalPython", r"Window"],
    ),
    # calibration: the one corpus pass is the scoring join; softmax and
    # binning are windows over ≤|classes| rows per doc
    "ml_calibration_bins": (
        [r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"EvalPython", r"InPandas"],
    ),
    # HHI: like Theil — no window, no sort, one agg + 1-row broadcast
    "agg_hhi_concentration": (
        [r"HashAggregate", r"partial_"],
        [r"Window", r"EvalPython", r"SortMergeJoin"],
    ),
    # Lorenz deciles: percentile cuts broadcast — the only window runs
    # on the 10-row decile frame, never an unpartitioned corpus ntile
    "agg_lorenz_deciles": (
        [r"HashAggregate", r"BroadcastNestedLoopJoin"],
        [r"EvalPython", r"SortMergeJoin", r"\bntile\("],
    ),
    # Poisson bootstrap: ALL replicate sums in ONE aggregation pass —
    # 2B conditional aggregates over one scan, no per-replicate jobs
    "agg_bootstrap_ci_poisson": (
        [r"HashAggregate", r"partial_"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
    # runs test: daily agg + one lag window on the calendar frame
    # (n-gram novelty's output is driver-assembled from bounded counts,
    # so it has no single checkable plan — its shape is pinned in the
    # module docstring and the ×10 probe instead)
    "ts_runs_test": (
        [r"HashAggregate", r"Window"],
        [r"Join", r"EvalPython", r"InPandas"],
    ),
}

# query -> gating table: BroadcastHashJoin is asserted only when the table's
# on-disk size at this sf is under the maybe_broadcast threshold; above it a
# shuffle join (SortMergeJoin/ShuffledHashJoin) is asserted instead.
GATED_BROADCASTS: dict[str, str] = {
    "graph_1hop_agg": "customer",
    "graph_2hop_neighbor_agg": "customer",
    "graph_sage_layer": "embeddings",
    "graph_gcn_layer": "embeddings",
    "graph_gin_layer": "embeddings",
}


def _table_bytes(sf_dir: str, name: str) -> int:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


# Iterative-loop return-path discipline (round-2 VERDICT "What's wrong" #1):
# the registered data path of an iterative operator must never round-trip a
# data-sized result through the driver (collect → createDataFrame re-upload
# is a driver OOM at 100 TB). These modules' loops read only O(1) counts;
# any `.collect(` in them is a regression. Bounded-result modules (pagerank/
# ppr/hits ≤100 rows, triangles 1 row, closeness |seeds| rows, train
# gradient partials) keep their summary-sized collects by design.
_NO_COLLECT_MODULES = (
    "flink_streaming_gnn_spark/graph/bfs.py",
    "flink_streaming_gnn_spark/graph/components.py",
    "flink_streaming_gnn_spark/graph/kcore.py",
    "flink_streaming_gnn_spark/graph/scc.py",
)


def _audit_no_driver_collect(failures: list[str]) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel in _NO_COLLECT_MODULES:
        src = open(os.path.join(repo, rel)).read()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            # target DataFrame/RDD .collect() only; `gc.collect()` is the
            # round-9 E7 py4j-cycle release, not a driver data read
            if ".collect(" in code and "gc.collect(" not in code:
                failures.append(f"{rel}:{i}: driver collect in iterative data path")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain_audit")
    queries = registry.all_queries()
    failures: list[str] = []
    _audit_no_driver_collect(failures)
    from flink_streaming_gnn_spark.plans.hints import DEFAULT_BROADCAST_BYTES

    for name, (must, must_not) in EXPECTATIONS.items():
        must, must_not = list(must), list(must_not)
        gate_table = GATED_BROADCASTS.get(name)
        if gate_table is not None:
            if _table_bytes(sf_dir, gate_table) <= DEFAULT_BROADCAST_BYTES:
                must.append(r"BroadcastHashJoin")
            else:
                # above the gate: shuffle join is the *correct* plan
                must.append(r"SortMergeJoin|ShuffledHashJoin")
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        for pat in must:
            if not re.search(pat, plan):
                failures.append(f"{name}: MISSING /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                failures.append(f"{name}: FORBIDDEN /{pat}/ present")
        status = "ok" if not any(f.startswith(name + ":") for f in failures) else "FAIL"
        print(f"{name:28s} {status}")
    if failures:
        print("\n".join(["", *failures]))
        sys.exit(1)
    print(f"\nall {len(EXPECTATIONS)} plans match scale expectations")


if __name__ == "__main__":
    main()
