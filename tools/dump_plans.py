"""Generate PLANS.md: physical plans of the headline queries with automated
checks of the execution properties the engine is designed around
(filter pushdown to the scan, broadcast joins for small sides,
TakeOrderedAndProject for top-k, no superfluous exchanges).

Usage:
    python tools/dump_plans.py        # writes PLANS.md at the repo root
    python tools/dump_plans.py --explain LABEL --out plans/rNN GATE...

The second form writes ``<out>/<gate>_<LABEL>.txt`` with each gate's
``explain('formatted')`` plan, planned in the session bench.py uses; run
it with LABEL=before at the parent commit and LABEL=after at HEAD to
record a round's plan claims (plans/r12 and plans/r13 were dumped with
SF_DIR at scale factor 0.1; their file names list the gates).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from strava_vector_search_spark.queries import QUERIES
from strava_vector_search_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# query -> properties we assert about its physical plan
EXPECTATIONS: dict[str, dict] = {
    "vs_topk_filtered": {
        "pushed_filter": r"PushedFilters: \[.*(In\(lang|EqualTo\(lang)",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "vs_topk_join_back": {
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "vs_topk_filtered_768": {
        # metadata filters reach the documents scan BEFORE the embed
        # explode; bucket sums partial-combine; scoring rides the
        # Arrow-batched BLAS kernel (MapInPandas — the one deliberate
        # Python stage); top-10 never global-sorts
        "pushed_filter": r"PushedFilters: \[.*(In\(lang|EqualTo\(lang)",
        "partial_agg": "partial_",
        "arrow_blas_kernel": "MapInPandas",
        "no_row_python": "!BatchEvalPython",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_cartesian": "!CartesianProduct",
    },
    "vs_batch_topk": {"broadcast_join": "BroadcastNestedLoopJoin"},
    "ann_ivf_topk": {
        # the driver-probed cells reach the parquet scan as a pushed IN
        # (no join left to broadcast); top-10 is a heap
        "pushed_probe": r"PushedFilters: \[.*In\(label",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "q1_pricing_summary": {
        "pushed_filter": r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate",
        "partial_agg": "partial_",
    },
    "q3_shipping_priority": {
        "pushed_filter": r"PushedFilters: \[.*EqualTo\(c_mktsegment",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "q5_broadcast_dims": {"broadcast_join": "BroadcastHashJoin"},
    "q18_large_orders": {"top_k_no_sort": "TakeOrderedAndProject"},
    "q4_order_priority": {
        "pushed_filter": r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate",
        "semi_join": "LeftSemi",
        "partial_agg": "partial_count",
    },
    "q14_promo_revenue": {
        "pushed_filter": r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate",
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "dd_minhash_lsh_verified": {"partial_agg": "partial_count"},  # signatures are map-only now; partial agg lives in verification
    "ann_srp_topk": {
        # literal band-key filters -> candidate selection is map-only: the
        # ONLY plan nodes allowed are scan -> filter -> project -> top-k
        "top_k_no_sort": "TakeOrderedAndProject",
        "map_only_candidates": "!Exchange",
        "no_join": "!Join",
    },
    "ann_srp_near_dup": {
        # signatures shuffle-free; the one shuffle is the band-bucket join.
        # Pair dedup is the first-agreeing-band codegen filter — there must
        # be NO aggregate on (id1, id2) anywhere in the plan anymore
        "no_pair_distinct": r"!HashAggregate\(keys=\[id1",
    },
    "dd_simhash_pairs": {
        # one (chunk, key) self-join; dedup via first-agreeing-slice filter
        "no_pair_distinct": r"!HashAggregate\(keys=\[id1",
        "no_union_of_chunk_joins": "!Union",
    },
    "smp_stratified_sample": {
        # per-stratum hash sampling is a pure map-side filter
        "no_join": "!Join",
        "no_agg": "!HashAggregate",
    },
    "dm_domain_mix": {"broadcast_join": "BroadcastHashJoin"},
    "pk_sequence_packing": {
        "window": "RunningWindowFunction|Window",
        "partial_agg": "partial_",
    },
    "q2_min_cost_supp": {
        "pushed_filter": r"PushedFilters: \[.*EqualTo\(p_size",
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_min",
    },
    "q8_market_share": {
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "q11_important_stock": {
        "broadcast_join": "BroadcastHashJoin",
        "semi_join": "LeftSemi",
        "partial_agg": "partial_",
    },
    "q12_priority_class": {
        "pushed_filter": r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate",
        "partial_agg": "partial_",
    },
    "q20_excess_suppliers": {"semi_join": "LeftSemi"},
    "ev_interval_join": {
        # equi-key + time-range residual: must be a hash/merge join on
        # user_id, never a nested-loop over the interval predicate
        "no_nested_loop": "!NestedLoop",
        "partial_agg": "partial_count",
    },
    "p_predicates_projection": {
        "pushed_filter": r"PushedFilters: \[.*Or\(EqualTo\(lang",
    },
    "w_rank_per_group": {"window": "RunningWindowFunction|Window"},
    "j_semi_anti": {"semi_join": "LeftSemi", "anti_join": "LeftAnti"},
    "svc_search_nested_dsl": {
        # the compiled DSL predicate must reach the parquet scan
        "pushed_filter": r"PushedFilters: \[.*EqualTo\(lang,es",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "tx_bm25_topk": {
        # two-scan BM25: the returned scored scan must be map-only + top-k
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_join": "!Join",
        "map_only": "!Exchange",
    },
    "vs_hybrid_bm25_topk": {
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "tx_vocab_top": {
        "top_k_no_sort": "TakeOrderedAndProject",
        "partial_agg": "partial_count",
    },
    "tx_encode_documents": {
        # vocab is collected + broadcast, NOT joined; encode is one Arrow pass
        "no_join": "!Join",
        "python_kernel": "ArrowEvalPython|MapInPandas",
    },
    "dq_expectations": {
        "anti_join": "LeftAnti",
        "partial_agg": "partial_",
    },
    "cdc_apply_changelog": {
        "anti_join": "LeftAnti",
        "window": "Window",
    },
    "cdc_scd2_history": {"window": "Window"},
    "smp_weighted_sample": {
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_join": "!Join",
        "no_agg": "!HashAggregate",
    },
    "agg_incremental_merge": {"partial_agg": "partial_"},
    "a8_pivot": {"partial_agg": "partial_"},
    "a9_unpivot": {"melt": "Expand", "partial_agg": "partial_"},
    "ev_funnel": {"partial_agg": "partial_min"},
    "ev_retention_cohorts": {"partial_agg": "partial_"},
    "ev_asof_join": {
        "window": "Window",
        "no_nested_loop": "!BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_range_join": {
        "interval_explode": "Generate",
        "no_nested_loop": "!NestedLoop",
    },
    "j_null_safe": {"partial_agg": "partial_count"},
    "dd_fuzzy_name_pairs": {
        # blocked fuzzy join: equi-join on the block key, never a
        # nested-loop over the edit-distance predicate
        "no_nested_loop": "!NestedLoop",
        "no_cartesian": "!CartesianProduct",
    },
    "a13_grouping_sets": {"expand": "Expand", "partial_agg": "partial_"},
    "a14_stats_moments": {"partial_agg": "partial_sum", "single_scan": "!Union"},
    "w_time_range_frame": {"window": "Window"},
    "dd_paragraph_dedup": {
        # global keep-first over spans + ordered group-back; no joins at all
        "window": "Window",
        "no_join": "!Join",
        "partial_agg": "partial_",
    },
    "dd_decontaminate": {
        # the eval shingle set broadcasts; the corpus side is one scan into
        # a map-side-combined per-doc aggregate
        "broadcast_join": "BroadcastHashJoin",
        "no_sortmerge": "!SortMergeJoin",
        "partial_agg": "partial_",
    },
    "dd_cluster_keep_best": {"partial_agg": "partial_"},
    "tx_tfidf_top_terms": {
        "window": "Window",
        "partial_agg": "partial_count",
        "no_nested_loop": "!NestedLoop",
    },
    "w_ntile_quartiles": {"window": "Window", "no_join": "!Join"},
    "sql_recursive_series": {
        # the ~80-row month series broadcasts against the orders scan
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "a15_hll_union": {
        # sketch partials merge map-side like any other aggregate buffer
        "partial_agg": "partial_hll_sketch_agg|partial_",
        "no_nested_loop": "!NestedLoop",
    },
    "tx_clean_markup": {"no_join": "!Join", "no_agg": "!HashAggregate"},
    "tx_stopword_filter": {"no_join": "!Join", "no_agg": "!HashAggregate"},
    "f_map_funcs": {"no_join": "!Join", "no_agg": "!HashAggregate"},
    "ev_session_window_native": {
        # one native session-window aggregate: no lag/running-sum pair
        "session_agg": "MergingSessions",
        "partial_agg": "partial_",
    },
    "ev_sliding_window": {"expand": "Expand", "partial_agg": "partial_"},
    "w_first_last_nth": {"window": "Window", "no_join": "!Join"},
    "tx_chunk_documents": {"no_join": "!Join", "no_agg": "!HashAggregate"},
    "tx_quality_outliers": {
        # both stats joins broadcast the handful of per-lang rows
        "broadcast_join": "BroadcastHashJoin",
        "no_sortmerge": "!SortMergeJoin",
    },
    "a16_corpus_profile": {"partial_agg": "partial_"},
    "j_dpp_partition_pruned": {
        # runtime partition filter injected from the broadcast dim side
        "dpp": "dynamicpruning",
        "broadcast_join": "BroadcastHashJoin",
    },
    "dd_repeated_spans": {
        "top_k_no_sort": "TakeOrderedAndProject",
        "partial_agg": "partial_count",
    },
    "smp_negative_pairs": {"broadcast_join": "BroadcastHashJoin"},
    "j_lateral_topn": {
        # Catalyst decorrelates the LATERAL LIMIT into a ranked window —
        # no nested re-execution per outer row
        "window_limit": "WindowGroupLimit|Window",
        "no_cartesian": "!CartesianProduct",
    },
    "ann_ivf_topk_filtered": {
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_sortmerge": "!SortMergeJoin",
    },
    "tx_unigram_perplexity": {
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
        "no_sortmerge": "!SortMergeJoin",
    },
    "ev_rolling_wau": {
        "explode": "Generate",
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
    },
    "f_url_funcs": {"no_join": "!Join", "no_agg": "!HashAggregate"},
    "ev_value_zscore": {
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
        "no_sortmerge": "!SortMergeJoin",
    },
    "dm_temperature_mix": {
        # rate table is |domains| rows: admission must be a broadcast join
        # + map-side filter, never a fact-side shuffle
        "broadcast_join": "BroadcastHashJoin",
        "no_sortmerge": "!SortMergeJoin",
    },
    "pk_length_buckets": {
        "window": "Window",
        "no_join": "!Join",
        "partial_agg": "partial_",
    },
    "dd_containment_pairs": {
        # inverted-index join on the shingle key — never a nested loop
        "no_nested_loop": "!NestedLoop",
        "no_cartesian": "!CartesianProduct",
        "partial_agg": "partial_count",
    },
    "w_cume_dist": {"window": "Window", "no_join": "!Join"},
    "vs_matryoshka_topk": {
        # both funnel stages are per-partition heaps, no full sort
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_join": "!Join",
    },
    "j_runtime_bloom": {
        # the runtime filter must reach the fact side as a might_contain
        # predicate fed by a bloom_filter_agg subquery on the dim side
        # (AQE may still convert the shuffle join to broadcast at this
        # tiny SF after the scoped thresholds are restored — the bloom
        # filter is what we assert, not the join strategy)
        "bloom_push": "might_contain",
        "bloom_build": "bloom_filter_agg",
    },
    "mm_patch_grid": {
        # decode kernel + patch fan-out compose in one stage: the explode
        # (Generate) must appear with no Exchange between it and the kernel
        "python_kernel": "MapInPandas",
        "explode": "Generate",
        "no_agg": "!HashAggregate",
    },
    "vs_binary_topk": {
        # both the Hamming candidate stage and the exact rerank are
        # per-partition heaps; the k-row candidate side broadcasts back
        "top_k_no_sort": "TakeOrderedAndProject",
        "broadcast_join": "BroadcastHashJoin",
    },
    "dd_semantic_dedup": {
        # the gate-plan pair set is below the driver-CC threshold, so the
        # BLAS kernel runs in the earlier edge job; the final labeled plan
        # must broadcast the (tiny) component labels and never cross-join
        "broadcast_join": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "tx_cdc_chunks": {
        # boundary scan + chunk slicing are map-only (Generate fan-out);
        # the only aggregate is the chunk-hash groupBy, partially combined
        "explode": "Generate",
        "partial_agg": "partial_",
    },
    "tx_hash_classifier": {
        # the whole classifier is one projection over the scan — no join,
        # no aggregate; the only exchange is the final ORDER BY's range
        # partitioning. The tokenizer must appear ONCE in the projection
        # (materialized token column), not inlined per reference.
        "no_join": "!Join",
        "no_agg": "!HashAggregate",
    },
    "ev_streaks": {
        # distinct + both windows + island aggregate share ONE user-keyed
        # shuffle; no join anywhere
        "window": "Window",
        "no_join": "!Join",
    },
    "mm_audio_windows": {
        # PCM decode kernel then JVM-side window fan-out, one stage
        "python_kernel": "MapInPandas",
        "explode": "Generate",
    },
    "svc_cache_hit_report": {
        # one corpus scan serves the whole query batch: query table
        # broadcasts, per-query rank is a window group-limit, no cartesian
        "broadcast_join": "Broadcast",
        "window_limit": "WindowGroupLimit",
    },
    "cdc_diff_snapshots": {
        # one full-outer join on the key, no cartesian, no extra agg
        "outer_join": "FullOuter",
        "no_cartesian": "!CartesianProduct",
    },
    "dq_table_checksum": {
        # per-table fingerprints are map-side-combined aggregates
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "diag_key_skew": {
        "partial_agg": "partial_count",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "dm_budget_select": {
        # two-level global rank/running-sum (operators/order.py): range
        # exchange + pid-partitioned windows + broadcast offset join —
        # NO single-partition stage anywhere in the executed plan
        "no_single_partition": "!Exchange SinglePartition",
        "range_partitioned": "Exchange rangepartitioning",
        "partitioned_window": "Window",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "dm_curriculum_order": {
        # both global orders (NTILE banding + final position) run the
        # two-level rank — the corpus never collapses to one task
        "no_single_partition": "!Exchange SinglePartition",
        "range_partitioned": "Exchange rangepartitioning",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "dm_interleave_sources": {
        # per-source window is partitioned by source; the global order
        # sees only the exact src_rank<=100 prefilter, then the
        # two-level rank — no single-partition exchange
        "no_single_partition": "!Exchange SinglePartition",
        "partitioned_window": r"Window \[row_number",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "j_bucketed_join": {
        # bucketBy(custkey) on both sides: the join AND the per-custkey
        # aggregate run with ZERO hash exchanges (the scan's bucket
        # distribution satisfies both); only the final ORDER BY ranges
        "no_hash_exchange": "!Exchange hashpartitioning",
        "merge_join": "SortMergeJoin",
        "bucket_scan": "SelectedBucketsCount",
    },
    "a18_heavy_hitters": {
        # pass 1 is a map-only Python sketch; pass 2 recounts only the
        # broadcast candidate set with a map-side-combined aggregate —
        # the full distinct-key space never hash-shuffles
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_count",
    },
    "dm_dsir_select": {
        # after the two bounded distribution aggregates bake into the
        # literal ratio table, scoring + selection is one scan: no join,
        # and the top-k never globally sorts
        "no_join": "!Join",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "tx_stupid_backoff": {
        # count tables come back via broadcast joins; the per-doc mean is
        # map-side combined
        "broadcast_join": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "smp_hard_negatives": {
        # BLAS signature kernel + per-anchor rank pruned as a window
        # group limit (no full sort of candidate scores)
        "python_kernel": "MapInPandas",
        "window_limit": "WindowGroupLimit",
    },
    "g_pagerank": {
        # the rank table is localCheckpoint-ed per iteration, so the visible
        # plan is checkpoint-scan -> top-k: lineage stays flat across
        # iterations (the design property) and the final top-k never sorts
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
    },
    "ml_linear_probe": {
        # train = one partial-combined moment aggregate; score pass joins
        # the 1-row coefficient table by broadcast nested loop (no shuffle)
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastNestedLoopJoin",
        "no_sortmerge": "!SortMergeJoin",
    },
    "ml_logreg_irls": {
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastNestedLoopJoin",
        "no_sortmerge": "!SortMergeJoin",
    },
    "ml_kfold_cv": {
        # one grouped moment aggregate; fold models broadcast back for the
        # validation scan — no shuffle join anywhere
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastHashJoin",
        "no_sortmerge": "!SortMergeJoin",
    },
    "ml_multiclass_probe": {
        "partial_agg": "partial_",
        "no_sortmerge": "!SortMergeJoin",
    },
    "vs_mean_pool_topk": {
        # posexplode fan-out then partial-combined per-dim means; the
        # query scores 10 pooled rows, so no top-k machinery needed
        "explode": "Generate",
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    # The four heaviest gates collect internally (property rows /
    # full-label tables), so their gate plans are LocalTableScans; their
    # OPERATOR plans are audited via the lean bench twins
    # (strava_vector_search_spark/benchmarks.py) that main() substitutes —
    # the same callables bench.py times (VERDICT r02 item 5).
    "ann_ivfpq_topk": {
        # IVF prune = literal IN of the driver-probed cells on the code
        # scan; ADC scan is the one Python kernel; candidate rescore joins
        # back by broadcast; final top-k never globally sorts; nothing
        # cartesian, ever
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_sortmerge": "!SortMergeJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_cc_incremental": {
        # sub-threshold regime: labels come back from the driver union-find
        # as a parallelized RDD scan; the checksum is one map-side-combined
        # aggregate — no join, no cartesian in the visible plan
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
        "flat_lineage": "ExistingRDD|LogicalRDD|LocalTableScan",
    },
    "ml_pca_power": {
        # the Gram aggregate ran in the checkpointed prefix (its own
        # audited shape: one partial-combined agg); the visible final
        # plan must be a flat projection over the 1-row checkpoint —
        # no join, nothing cartesian, per-iteration lineage truncated
        "flat_lineage": "ExistingRDD|LogicalRDD|LocalTableScan",
        "no_join": "!Join",
        "no_cartesian": "!CartesianProduct",
    },
    "ml_judge_agreement": {
        # contingency table = one map-side-combined aggregate over pure
        # expressions; kappa arithmetic happens on the 1-row result
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "idx_trigram_substring": {
        # persisted trigram-clustered posting table: the query's literal
        # IN must reach the posting parquet scan as a pushed filter
        # (row-group min/max prune on the sorted tg column); candidates
        # verified via semi-join; exact contains on candidates only
        "pushed_filter": r"PushedFilters: \[.*In\(tg",
        "semi_join": "LeftSemi",
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_decontaminate_semantic": {
        # eval matrix is broadcast INTO the kernel closure; the corpus
        # pass is one map-only Arrow kernel — no join node at all
        "python_kernel": "MapInPandas",
        "no_join": "!Join",
        "no_cartesian": "!CartesianProduct",
    },
    "ml_als_user_factors": {
        # one ratings aggregate + item-factor join + one stats aggregate;
        # the 2x2 ridge solve is pure projection math — nothing cartesian
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
        "no_nested_loop": "!NestedLoop",
    },
    "lay_zorder_2d_prune": {
        # pruned conjunctive read: both exact predicates must still reach
        # the parquet reader; aggregate partial-combines; no join
        "pushed_filter": r"PushedFilters: \[.*GreaterThanOrEqual\(o_totalprice",
        # the printed PushedFilters list truncates ("LessTh..."); the
        # custkey predicate's scan-level presence shows in DataFilters
        "pushed_filter_2": r"DataFilters: \[.*o_custkey",
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "ev_gap_fill": {
        # dense-grid densification: one partial-combined hourly agg, a
        # generated grid, one left join, two window passes — no self-join
        # over gaps, nothing cartesian except the tiny users x 48 grid
        "window": "Window",
        "partial_agg": "partial_",
        "no_sortmerge_selfjoin": "!SortMergeJoin LeftOuter",
    },
    "ml_bootstrap_ci": {
        # per-(row, resample) weights are a map-only projection over the
        # crossed grid; per-resample means partial-combine; order stats
        # over B rows — the resample cross join must stay nested-loop-
        # broadcast of the tiny series, never an exchange-heavy join
        "partial_agg": "partial_",
        "window": "Window",
        "no_sortmerge": "!SortMergeJoin",
    },
    "lay_zonemap_prune": {
        # zone-map pruned scan: the exact range predicate is re-applied
        # after pruning and must reach the parquet reader as a pushed
        # filter; the aggregate partial-combines; no join anywhere (the
        # stats lookup happens at plan time, not as a runtime join)
        "pushed_filter": r"PushedFilters: \[.*GreaterThanOrEqual\(o_totalprice",
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "f_udtf_char_windows": {
        # Python UDTF surface: the plan must carry the Arrow-batched UDTF
        # eval node and the lateral correlation must not degrade into a
        # cartesian product against anything
        "udtf_node": r"EvalPythonUDTF|PythonUDTF",
        "no_cartesian": "!CartesianProduct",
    },
    "tx_bpe_encode_stats": {
        # the distributed side of BPE training (tx_bpe_merges returns the
        # driver-assembled merge table, a LocalTableScan): the trained char
        # state is localCheckpoint-ed per round, so the visible plan is a
        # flat scan + one partial-combined aggregate — per-round lineage
        # (window merges, pair counts) never accumulates
        "partial_agg": "partial_",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_join": "!Join",
        "no_cartesian": "!CartesianProduct",
    },
    # -- round 5 ------------------------------------------------------------
    "ann_ivf_topk_768": {
        # 768-d IVF: the centroid aggregate runs in the collect before
        # the query is planned; the candidate filter is a literal IN of
        # the driver-probed cells, top-10 as a heap — never a cartesian,
        # never a global sort, no Python
        "probe_in_list": r"lang#\d+ IN \(",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ann_ivfpq_topk_768": {
        # composed IVF+PQ at production width (lean twin): probed-code
        # ADC scan is the Arrow kernel, the probe is a literal IN of the
        # driver-probed cells, the candidate join broadcasts, exact
        # rescore top-k as a heap over the checkpointed index
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_semantic_pairs_768": {
        # SemDeDup pair kernel at width 768 — since r11 the gate READS
        # the _semantic_pairs_768_lang session kernel (a checkpointed
        # LogicalRDD shared with the learned-cell gate's retention
        # cross-check), so the MapInPandas/packing stages live in the
        # kernel's one-off build, not in this gate's visible plan. The
        # visible plan must stay a flat checkpoint scan + order — no
        # recompute of the kernel per call
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
        "no_rowwise_python": "!BatchEvalPython",
        "no_join": "!Join",
    },
    "svc_index_build_stats_768": {
        # service index build at width 768: pure-expression embed +
        # staged normalize (no Python), partial-combined invariant
        # aggregates. Since r11 the n_zero_vectors column rides a 1-row
        # broadcast nested-loop cross of the two aggregates — the ONLY
        # join allowed is that broadcast; a hash/merge join of the
        # corpus would mean the metric went through a real join
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastNestedLoopJoin",
        "no_shuffle_join": "!SortMergeJoin",
        "no_python": "!BatchEvalPython",
    },
    "vs_batch_topk_768": {
        # batch search at production width rides the BLAS lane (r12
        # optimization): queries collect into the Q matrix inside the
        # Arrow kernel (MapInPandas — one matmul per batch, per-batch
        # per-query top-k survivors), so the broadcast query join is
        # gone; per-query top-5 over the survivors is a WindowGroupLimit,
        # so no task sorts the scored corpus; no row-at-a-time Python
        "python_kernel": "MapInPandas",
        "window_group_limit": "WindowGroupLimit",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ann_pq_topk_768": {
        # PQ-768 operator path (lean twin): Arrow-batched ADC scan
        # (MapInPandas is the designed kernel), candidate semi-join
        # broadcasts, exact rescore top-k as a heap, checkpointed
        # normalized corpus keeps lineage flat
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "ann_ivf_batch_partition_pruned": {
        # batched probe on the materialized IVF layout: the probed-
        # cluster union is a literal IN that lands as PartitionFilters
        # (unprobed clusters never read); per-query assignment via
        # broadcast join; per-query top-k as a WindowGroupLimit
        "partition_filters_in": "PartitionFilters: \\[.*label.* IN ",
        "broadcast_join": "BroadcastHashJoin",
        "window_group_limit": "WindowGroupLimit",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "svc_search_batch_ivf_768": {
        # service batch over the materialized IVF layout: the probed-
        # cluster union lands as PartitionFilters on the lang-partitioned
        # scan (unprobed clusters never read), per-request attachment and
        # query vectors ride broadcasts, per-request top-k is a
        # WindowGroupLimit, DSL filters evaluate pre-rank as expressions
        "partition_filters_in": "PartitionFilters: \\[.*lang.* IN ",
        "broadcast_join": "BroadcastHashJoin",
        "window_group_limit": "WindowGroupLimit",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ann_ivfpq_persisted_768": {
        # persisted IVF+PQ serve path (lean twin: load + one query): the
        # ADC scan over the LOADED cluster-partitioned code table is the
        # Arrow kernel; candidate/rescore joins broadcast; top-k is a
        # heap; no per-session retrain means no Lloyd-loop lineage
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_semantic_dedup_768_kmeans": {
        # learned-cell SemDeDup (lean twin: one kernel run + keep-best):
        # the pair kernel runs inside the connected-components step
        # (driver union-find below the edge threshold), so the VISIBLE
        # plan is the label attach (broadcast) + one partial-combined
        # max_by — the kernel plan itself is audited by the
        # semantic_pairs_blas_kernel section below
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
        "no_rowwise_python": "!BatchEvalPython",
    },
    "semantic_pairs_blas_kernel": {
        # the SemDeDup pair kernel invoked DIRECTLY (plan-only section —
        # the gates read its @_session_kernel checkpoint, which hides
        # this shape): rank-dense block packing partial-combines, one
        # Arrow-batched float64 matmul per block pair, the block-pair
        # join is the designed within-cell quadratic — never a cartesian
        # of rows, never row-at-a-time Python
        "python_kernel": "MapInPandas",
        "partial_agg": "partial_",
        "no_rowwise_python": "!BatchEvalPython",
    },
    "svc_search_batch_kmeans_768": {
        # learned-quantizer service batch (lean twin: one 3-request
        # search_batch): probed-union literal IN lands as
        # PartitionFilters on the KMeans-cluster-partitioned layout,
        # per-request attach + query vectors broadcast, per-request
        # top-k is a WindowGroupLimit
        # IN for few probed values, INSET once Catalyst switches to the
        # set form (the 3-request union probes ~11 of 16 clusters)
        "partition_filters_in": "PartitionFilters: \\[.*cluster.* IN(SET)? ",
        "broadcast_join": "BroadcastHashJoin",
        "window_group_limit": "WindowGroupLimit",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "svc_search_approx_768": {
        # service approximate serve (lean twin: attach persisted IVF+PQ,
        # one filtered search_approx): metadata filter semi-joins the
        # code table BEFORE the ADC kernel (MapInPandas), the IVF prune is
        # a literal IN of the driver-probed cells on the code scan,
        # candidate and rescore joins broadcast, top-k is a heap, never a
        # cartesian
        "python_kernel": "MapInPandas",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_cartesian": "!CartesianProduct",
    },
    "svc_search_dsl_768": {
        # service path at production width: the compiled DSL predicate is
        # pushed into the documents parquet scan (filter BELOW the
        # embed+score), the corpus-embeddings join broadcasts, top-5 is a
        # heap, scoring is pure codegen
        "pushed_filters": "PushedFilters: \\[[^\\]]",
        "broadcast_join": "BroadcastHashJoin",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ann_kmeans_ivf_topk_768": {
        # learned-centroid batch IVF (audits the ivf_batch_topk operator
        # path): candidates attach to their probed clusters via broadcast
        # equi-join (never a cartesian); per-query top-k runs as a
        # WindowGroupLimit, so map tasks keep <=k rows per query instead
        # of sorting the candidate set; the checkpointed index keeps
        # lineage flat; scoring is pure codegen (no Python)
        "broadcast_join": "BroadcastHashJoin",
        "window_group_limit": "WindowGroupLimit",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "tx_kneser_ney": {
        # marginals join back onto the checkpointed bigram-count table;
        # top-20 must be a heap, not a full sort
        "partial_agg": "partial_count",
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "ml_naive_bayes": {
        # 5-row class table rides a broadcast nested-loop cross join;
        # per-(doc, class) fold is map-side combined
        "broadcast_classes": "BroadcastNestedLoopJoin",
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
    },
    "g_triangle_count": {
        # closing-edge probe is a semi join; wedge/edge aggregates are
        # map-side combined; no cartesian anywhere in the wedge join
        "semi_join": "LeftSemi",
        "partial_agg": "partial_count",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_max_concurrency": {
        # the running sum is DAY-partitioned (parallel windows), the
        # bounded carry joins back broadcast — the two-level design is
        # visible in the plan
        "day_partitioned_window": r"hashpartitioning\(day",
        "broadcast_carry": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "ivm_join_delta": {
        # delta refresh joins broadcast dims; merge is a full-outer of
        # |nations|-sized states
        "broadcast_join": "BroadcastHashJoin",
        "full_outer_merge": "FullOuter",
        "partial_agg": "partial_",
    },
    "idx_phrase_search": {
        # postings fan out via Generate (posexplode); the occurrence
        # aggregate is map-side combined
        "explode": "Generate",
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
    },
    "a20_countmin_sketch": {
        # the d*w-cell sketch broadcasts to the probe side; cell counts
        # are map-side combined
        "broadcast_sketch": "BroadcastHashJoin",
        "partial_agg": "partial_",
        "flat_lineage": "ExistingRDD|LogicalRDD",
    },
    "ml_ridge_path": {
        # the 3-row coefficient table rides a broadcast nested loop; the
        # scoring aggregate is map-side combined
        "broadcast_coefs": "BroadcastNestedLoopJoin",
        "partial_agg": "partial_",
    },
    "w_pareto_abc": {
        # corpus-scale work is the per-part aggregate (partial); the
        # cumulative revenue share runs the two-level range-partitioned
        # running sum (operators/order.py) — no single-partition stage.
        # The rank's own range exchange sits behind the localCheckpoint
        # boundary (materialized by the offsets collect), so the
        # range_partitioned match below comes from the query's FINAL
        # global .orderBy(...) sort, not the two-level kernel; what
        # verifies the kernel is no_single_partition + broadcast_offsets.
        "partial_agg": "partial_",
        "no_single_partition": "!Exchange SinglePartition",
        "range_partitioned": "Exchange rangepartitioning",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "ml_kmeans_step": {
        # 8-row centroid table broadcast; assignment rank window; the
        # centroid-mean aggregate is map-side combined
        "broadcast_centroids": "BroadcastNestedLoopJoin",
        "partial_agg": "partial_",
    },
    "a21_histogram_quantile_union": {
        # both histogram stages partial-combine; the quantile read joins
        # the bounded walk broadcast
        "partial_agg": "partial_",
        "broadcast_walk": "Broadcast",
        "flat_lineage": "ExistingRDD|LogicalRDD",
    },
    "ev_did_estimator": {
        # one (arm, period) aggregate; day bounds ride a 1-row broadcast
        "partial_agg": "partial_",
        "broadcast_bounds": "BroadcastNestedLoopJoin",
    },
    "ml_cuped_adjustment": {
        # per-user halves aggregate then one moment fold, both partial
        "partial_agg": "partial_",
    },
    # (g_kcore is not auditable here: its peeling rounds run during gate
    # construction and the returned frame is the driver-assembled 1-row
    # LocalTableScan, like tx_bpe_merges' merge table)
    "ev_acf_lags": {
        # corpus folds in the per-day partial aggregate; the 7-row lag
        # table rides a broadcast; no quadratic anything
        "partial_agg": "partial_",
        "broadcast_lags": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_trend_robust": {
        # pair table is a range self-join of the bounded daily aggregate
        # on a broadcast side, never a shuffle of raw events
        "partial_agg": "partial_",
        "broadcast_pairs": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ab_welch_ttest": {"partial_agg": "partial_"},
    "ab_mann_whitney_u": {"partial_agg": "partial_"},
    "a23_chi_square": {
        # margins and the grid are broadcast-joined aggregates
        "partial_agg": "partial_",
        "broadcast_margins": "Broadcast",
    },
    "a24_gini_revenue": {
        # rank i + count n_c come from the two-level range-partitioned
        # rank (operators/order.py) — the per-customer table never
        # collapses to one task. The range exchange itself sits behind
        # the localCheckpoint boundary (materialized by the offsets
        # collect), so the final plan shows its signature instead: the
        # broadcast offsets join and zero single-partition stages.
        "partial_agg": "partial_",
        "no_single_partition": "!Exchange SinglePartition",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "w_skyline_2d": {
        # level table joins back to part via an explicit broadcast hash
        # join; level aggregate partial-combines
        "partial_agg": "partial_",
        "broadcast_levels": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_interval_union_time": {"partial_agg": "partial_"},
    "diag_distinct_estimate": {
        "partial_agg": "partial_",
        "broadcast_exact": "BroadcastNestedLoopJoin",
    },
    "lay_compaction_plan": {"partial_agg": "partial_"},
    "tx_kl_divergence": {
        "partial_agg": "partial_",
        "broadcast_totals": "BroadcastNestedLoopJoin",
    },
    "ev_seasonal_decompose": {"partial_agg": "partial_"},
    "t_keyset_page": {
        # THE keyset property: the page is top-k, not global skip — and
        # since r8 the cursor derivation is top-k too (orderBy().limit(40)
        # + reversed limit(1)), so NO step window-sorts the full table
        "top_k_no_sort": "TakeOrderedAndProject",
        "broadcast_cursor": "BroadcastNestedLoopJoin",
        "no_window_sort": "!Window \\[",
    },
    "ev_seasonal_anomaly": {
        # the daily aggregate runs inside the localCheckpoint'd subtree;
        # the visible plan starts from the truncated lineage
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "broadcast_stats": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_asof_directions": {
        # both directions are the one-shuffle union trick: no range
        # join, no nested-loop explosion anywhere
        "no_cartesian": "!CartesianProduct",
        "no_bnlj": "!BroadcastNestedLoopJoin",
    },
    "ml_gbt_rounds": {
        "partial_agg": "partial_",
        "broadcast_model": "BroadcastNestedLoopJoin",
    },
    "er_fs_match_weights": {
        # candidate generation is the block equi-join over the bounded
        # rep kernel — a hash join, never a cartesian
        "block_equi_join": "Join",
        "no_cartesian": "!CartesianProduct",
    },
    "g_bfs_hops": {
        # hops run inside localCheckpoint'd subtrees; the visible plan
        # aggregates the truncated lineage — and must stay join-light
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_sequence_pattern": {
        # collect_list partial-aggregates map-side (ObjectHashAggregate)
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
    },
    "ml_tree_depth2": {
        # root rides a broadcast; the per-side kernel partial-combines
        "partial_agg": "partial_",
        "broadcast_root": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "dq_fd_violations": {
        # five linear profile scans, unioned; no joins anywhere
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "a25_hdr_histogram": {
        # both walks fold the stream map-side; ranks ride a broadcast
        "partial_agg": "partial_",
        "broadcast_ranks": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_rfm_segments": {
        # all three quintile NTILEs run the two-level global_ntile
        # (operators/order.py) over the customer aggregate; the money
        # grand total rides in as a driver-known literal (no scalar
        # aggregate) — no single-partition stage anywhere. As in
        # w_pareto_abc, the kernel's range exchange is hidden behind the
        # localCheckpoint boundary; range_partitioned below matches the
        # query's FINAL global .orderBy(...) sort, and the kernel itself
        # is verified by no_single_partition + broadcast_offsets.
        "partial_agg": "partial_",
        "no_single_partition": "!Exchange SinglePartition",
        "range_partitioned": "Exchange rangepartitioning",
        "broadcast_offsets": "BroadcastHashJoin",
    },
    "smp_neyman_allocation": {
        # moment aggregate partial-combines; the bounded allocation
        # table broadcasts into the admission join
        "partial_agg": "partial_",
        "broadcast_alloc": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ab_ks_test": {
        # the MW distinct-value kernel shape: one partial-combined
        # fold, windows over the bounded kernel, no joins
        "partial_agg": "partial_",
        "no_join": "!Join",
    },
    "ab_spearman_corr": {
        # rank kernels ride the two-level global order; its range exchange
        # + pid windows run behind attach_global_order's localCheckpoint,
        # so the visible plan is checkpoint-scan -> offset joins -> the
        # final 9-number fold (whose 1-row merge is the only single
        # partition — a global aggregate, not a ranking collapse). The
        # no-single-partition property of the rank itself is asserted by
        # the dm_* gates that share operators/order.py.
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "broadcast_offsets": "BroadcastHashJoin",
        "partial_agg": "partial_",
    },
    "ann_ivf_append_assign": {
        # assignment is a pure literal expression (no window, no
        # cartesian); centroid build + readout aggregates partial-combine;
        # the metadata join-back rides a broadcast
        "partial_agg": "partial_",
        "no_window_sort": "!Window \\[",
        "no_cartesian": "!CartesianProduct",
        "broadcast_joinback": "Broadcast",
    },
    "dd_duplicate_spans": {
        # linear window explode; the only shuffles are the window-hash
        # aggregate and the per-doc rollup, both partial-combined
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
        "no_window_sort": "!Window \\[",
    },
    "ev_retention_matrix": {
        # two partial-combined aggregates + bounded-grid division; the
        # plain COUNT keeps the grid agg expand-free
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
        "no_expand": "!Expand",
    },
    "tx_bpe_merges": {
        # iterative merge selection: each round's pair table is
        # localCheckpointed, so the FINAL plan is the last round's
        # bounded readout — no window, no join explosion, no Python
        "no_cartesian": "!CartesianProduct",
        "no_window_sort": "!Window \\[",
        "no_python": "!BatchEvalPython",
    },
    "tx_pmi_pairs": {
        # corpus co-occurrence counts partial-combine; the marginal
        # table broadcasts back; top pairs via TakeOrderedAndProject
        "partial_agg": "partial_",
        "broadcast_marginals": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
        "no_window_sort": "!Window \\[",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_python": "!BatchEvalPython",
    },
    "dq_luhn_audit": {
        # pure-expression Luhn fold over the order-key digit corpus:
        # scan-speed projection, 5-key partial-combined aggregate, no
        # join, no Python — the only shuffle is the 5-row final agg
        "partial_agg": "partial_",
        "no_join": "!Join",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "dd_minhash_estimate_error": {
        # candidate pairs come from the banded LSH join (never all
        # pairs); the 16-hash signature table broadcasts onto the pair
        # list twice; the error histogram partial-combines on 8 buckets
        "partial_agg": "partial_",
        "broadcast_join": "BroadcastHashJoin",
        "no_sortmerge": "!SortMergeJoin",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ml_confusion_metrics": {
        # one partial-combined |classes|^2 confusion aggregate over the
        # shared prediction kernel; every later join/window runs on the
        # bounded class grid, never the corpus
        "partial_agg": "partial_",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "ev_markov_stationary": {
        # events fold ONCE into the |states|^2 transition kernel (r13:
        # the user_id-keyed sessionize windows live inside the
        # @_session_kernel checkpoint of _markov_transition_counts, so
        # the VISIBLE plan starts at its Scan ExistingRDD leaf — the
        # window discipline is asserted on ev_session_paths, which keeps
        # the full pipeline);
        # the fixed-point iteration runs on the tiny kernel via a 1-row
        # broadcast (BroadcastNestedLoopJoin), never a cartesian
        "partial_agg": "partial_",
        "kernel_leaf": "ExistingRDD|LogicalRDD",
        "one_row_broadcast": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
        "no_python": "!BatchEvalPython",
    },
    "dd_bloom_sharded_decontaminate": {
        # one dense row PER SHARD; the probe picks its shard via a
        # broadcast hash join on md5(key) % n_shards — the corpus side
        # still never sort-merge-joins anything
        "broadcast_shard_row": "BroadcastHashJoin",
        "partial_agg": "partial_",
        "no_merge_join": "!SortMergeJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_bloom_decontaminate": {
        # the filter folds to ONE broadcast map row; the corpus-side
        # probe is pure expressions (no explode/regroup) and the corpus
        # never sort-merge-joins the reference set — the only corpus
        # shuffle left is the per-doc hit count
        "broadcast_words": "BroadcastNestedLoopJoin",
        "partial_agg": "partial_",
        "no_merge_join": "!SortMergeJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ml_assoc_rules": {
        # Apriori: frequent items join the basket list before the
        # within-basket self-join; pair counts partial-combine
        "partial_agg": "partial_count",
        "no_cartesian": "!CartesianProduct",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
    "g_ppr": {
        # same lineage discipline as g_pagerank: per-iteration joins and
        # aggregates run behind localCheckpoint, the visible plan is
        # checkpoint-scan -> non-seed filter -> top-k
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
    },
    "ml_uplift_tlearner": {
        # ONE grouped Gram aggregate fits both arms; the 1-row pivoted
        # coefficient table broadcasts into the scoring scan
        "partial_agg": "partial_",
        "broadcast_coef": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ann_ivf_partition_pruned": {
        # the probe filter prunes cluster DIRECTORIES at the scan — the
        # skipped k - nprobe clusters are never read
        "partition_pruned": r"PartitionFilters: \[label#\d+ IN",
        "top_k_no_sort": "TakeOrderedAndProject",
        "no_join": "!Join",
    },
    "tx_ngram_novelty": {
        # the shingle key space shuffles exactly once (global min), the
        # novel counts group the firsts table — no shingle join-back
        "partial_agg": "partial_min",
        "doc_keyed_join": "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
    },
    "ev_cohort_ltv": {
        # two partial-combined corpus aggregates; the cumulative window
        # is PARTITIONED by cohort (never a global sort)
        "partial_agg": "partial_",
        "partitioned_window": "Window",
        "no_single_partition": "!Exchange SinglePartition",
    },
    "vs_ivf_recall_curve": {
        # every arm's top-10 is a TakeOrdered; the recall join broadcasts
        # the 10-row exact id set
        "top_k_no_sort": "TakeOrderedAndProject",
        "broadcast_exact": "BroadcastHashJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "ev_markov_stationary": {
        # ONE corpus shuffle (r13: behind the @_session_kernel
        # checkpoint leaf of _markov_transition_counts); the power
        # iteration runs over the |states|^2 kernel with
        # partial-combined sums
        "partial_agg": "partial_sum",
        "kernel_leaf": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "dd_bloom_prefilter_exact": {
        # stage 1 is the expression-only Bloom probe (broadcast map row);
        # stage 2's exact semi-join sees only maybe-hits and broadcasts
        # the eval keys — the corpus never sort-merge-joins anything
        "broadcast_probe": "BroadcastNestedLoopJoin",
        "exact_semi": "BroadcastHashJoin.*LeftSemi|LeftSemi.*Broadcast",
        "no_merge_join": "!SortMergeJoin",
    },
    "tx_novelty_incremental": {
        # delta firsts anti-join base firsts; every count partial-combines
        "partial_agg": "partial_min",
        "anti_join": "LeftAnti",
        "no_cartesian": "!CartesianProduct",
    },
    "ab_bayesian_beta": {
        # corpus work is ONE per-user partial-combined aggregate; the
        # lgamma array rides a broadcast 1-row cross join; the only
        # window walks the |users|-bounded integer series
        "partial_agg": "partial_",
        "broadcast_arr": "BroadcastNestedLoopJoin",
        "no_cartesian": "!CartesianProduct",
    },
    "g_hits": {
        # per half-step joins/aggregates run behind localCheckpoint; the
        # visible plan is two checkpoint-scans -> role top-ks
        "top_k_no_sort": "TakeOrderedAndProject",
        "flat_lineage": "ExistingRDD|LogicalRDD",
        "no_cartesian": "!CartesianProduct",
    },
    "mm_phash_near_dup": {
        # hash grid + banding are pure codegen expressions — zero Python
        # eval anywhere; candidates come from the band equality join and
        # the verified output is a bounded top-k
        "no_python": "!BatchEvalPython",
        "no_arrow_python": "!MapInPandas",
        "top_k_no_sort": "TakeOrderedAndProject",
    },
}


def audit() -> None:
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at sf dir `{SF_DIR}`. Each query",
        "lists the executed plan (AQE final) and automated property checks:",
        "filters pushed into the parquet scan, broadcasts on small sides,",
        "`TakeOrderedAndProject` for top-k (no full sort), partial aggregation",
        "(map-side combine) before shuffles.",
        "",
    ]
    from strava_vector_search_spark.benchmarks import LEAN_BENCH

    def _semantic_pairs_blas_kernel(spark, sf_dir):
        # direct (un-memoized) kernel invocation for the plan audit
        from pyspark.sql import functions as F

        from strava_vector_search_spark.operators.dedup import (
            semantic_pairs_blas,
        )
        from strava_vector_search_spark.queries import _md5_emb_768, load_table

        docs = load_table(spark, sf_dir, "documents")
        emb = _md5_emb_768(spark, sf_dir).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        return semantic_pairs_blas(emb, "lang", "doc_id", "embedding", 0.9)

    PLAN_ONLY = {"semantic_pairs_blas_kernel": _semantic_pairs_blas_kernel}

    failures = []
    for name, checks in EXPECTATIONS.items():
        # heavy property gates: audit the operator-path twin bench.py
        # times, not the gate's internal-collect LocalTableScan
        fn = PLAN_ONLY.get(name) or LEAN_BENCH.get(name) or QUERIES[name]
        df = fn(spark, SF_DIR)
        df.collect()  # materialize so AQE finalizes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}\n")
        for label, pattern in checks.items():
            # "!pattern" asserts the pattern is ABSENT from the plan
            if pattern.startswith("!"):
                ok = re.search(pattern[1:], plan) is None
            else:
                ok = re.search(pattern, plan) is not None
            lines.append(f"- {'✅' if ok else '❌'} `{label}`: `{pattern}`")
            if not ok:
                failures.append((name, label))
        # compact plan: drop codegen ids and trailing whitespace
        compact = "\n".join(
            ln.rstrip() for ln in plan.splitlines() if ln.strip()
        )
        lines.append("\n```\n" + compact[:4000] + "\n```\n")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}; {len(failures)} failed checks: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


def explain(label: str, out_dir: str, gates: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("FATAL")
    for name in gates:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not declared", flush=True)
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building {name}: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {label} (sf_dir={SF_DIR})\n\n")
            fh.write(plan)
        print(f"wrote {path}", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--explain", metavar="LABEL", help="dump formatted plans")
    ap.add_argument("--out", metavar="DIR", help="directory for --explain")
    ap.add_argument("gates", nargs="*", help="gates for --explain")
    args = ap.parse_args()
    if args.explain is None:
        if args.out or args.gates:
            ap.error("--out and gates need --explain")
        audit()
    elif not args.out or not args.gates:
        ap.error("--explain needs --out and at least one gate")
    else:
        explain(args.explain, args.out, args.gates)


if __name__ == "__main__":
    main()
