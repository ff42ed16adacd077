"""Central registry: query name → (spark callable, DuckDB oracle SQL).

``QUERIES[name](spark, sf_dir)`` returns a DataFrame; ``ORACLES[name]``
is ANSI SQL DuckDB runs over the same parquet views.  The driver's
correctness gate compares both at sf0.01 (row count + schema +
order-insensitive value hash) — see __spark_entry__.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from legate_dataframe_spark.core.caching import release_caches
from legate_dataframe_spark.plans import pipeline_queries as pq
from legate_dataframe_spark.plans import relational as r
from legate_dataframe_spark.plans import round4 as r4
from legate_dataframe_spark.plans import round5 as r5
from legate_dataframe_spark.plans import round6 as r6
from legate_dataframe_spark.plans import round7 as r7
from legate_dataframe_spark.plans import round8 as r8
from legate_dataframe_spark.plans import round9 as r9
from legate_dataframe_spark.plans import round10 as r10
from legate_dataframe_spark.plans import round10b as r10b
from legate_dataframe_spark.plans import round11 as r11
from legate_dataframe_spark.plans import round12 as r12
from legate_dataframe_spark.plans import round13 as r13
from legate_dataframe_spark.plans import roundtrip as rt
from legate_dataframe_spark.plans.relational import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# name → (spark_fn, oracle_sql | None).  None ⇒ rows-only check.
#
# ORDER MATTERS: the driver's correctness gate samples a prefix of this dict
# (each round checks the first ~50 entries).  Rotation protocol (r05):
# the front block holds queries with no green driver row yet (the 5
# round-13 additions), then entries whose implementation CHANGED this
# round (the span family's shared _doc_kgrams front + the char form's
# linear front/interval rebuild + the fixpoint cuts + the takedown
# staging/null-id fixes — 11 entries), then the oldest
# stale-verification tranche: the 3 remaining r06 greens + 31 of the
# 39 r07 greens (VERDICT r12 task 6) — 5 + 11 + 3 + 31 = exactly the
# 50-entry prefix.  Eight r07 greens did not fit behind the
# changed-machinery head; they lead the r14 rotation (so r07, not
# r08, stays the oldest green — by 8 entries).  Entries greened by
# the r12 driver and unchanged this round rotate to the very END
# (freshest verification).  Later blocks are ordered by round of LAST
# driver verification, oldest first.
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # ---- round-13 front: no driver row yet ---------------------------------
    # the composed one-shingle-pass corpus build (decontaminate +
    # cross-doc + intra-doc off ONE positional exchange) and the BPE
    # instantiation of the span tokenizer contract (Lee et al.'s
    # 50-BPE-token cut over an in-query learned vocabulary)
    "clean_corpus_onepass": (r13.clean_corpus_onepass,
                             r13.CLEAN_CORPUS_ONEPASS_SQL),
    "substring_span_removal_bpe": (
        r13.substring_span_removal_bpe,
        r13.SUBSTRING_SPAN_REMOVAL_BPE_SQL),
    "incremental_clean_corpus": (
        r13.incremental_clean_corpus,
        r13.INCREMENTAL_CLEAN_CORPUS_SQL),
    "stream_clean_corpus_chain": (
        r13.stream_clean_corpus_chain,
        r13.STREAM_CLEAN_CORPUS_CHAIN_SQL),
    "clean_corpus_raw_onepass": (
        r13.clean_corpus_raw_onepass,
        r13.CLEAN_CORPUS_RAW_ONEPASS_SQL),
    # ---- changed in r13 — re-verify (the span family's shared
    # _doc_kgrams front; since r14 one rolling-digest builder serves
    # every front and every k; the char form has the interval rebuild;
    # decontaminate/repeated cuts iterate to a fixpoint; takedown
    # staging moved inside the export dir and keeps null-id rows) ----
    "substring_span_removal_chars": (
        r12.substring_span_removal_chars,
        r12.SUBSTRING_SPAN_REMOVAL_CHARS_SQL),
    "decontaminate_spans": (r12.decontaminate_spans,
                            r12.DECONTAMINATE_SPANS_SQL),
    "repeated_span_removal": (r12.repeated_span_removal,
                              r12.REPEATED_SPAN_REMOVAL_SQL),
    "takedown_clean_corpus_export": (
        r12.takedown_clean_corpus_export,
        r12.TAKEDOWN_CLEAN_CORPUS_EXPORT_SQL),
    "substring_dup_spans": (r10b.substring_dup_spans_q,
                            r10b.SUBSTRING_DUP_SPANS_SQL),
    "substring_span_removal": (r11.substring_span_removal,
                               r11.SUBSTRING_SPAN_REMOVAL_SQL),
    "incremental_substring_spans": (r10b.incremental_substring_spans,
                                    r10b.INCREMENTAL_SUBSTRING_SPANS_SQL),
    "stream_substring_chain": (r10b.stream_substring_chain,
                               r10b.STREAM_SUBSTRING_CHAIN_SQL),
    "incremental_span_removal": (r11.incremental_span_removal,
                                 r11.INCREMENTAL_SPAN_REMOVAL_SQL),
    "dup_span_intervals": (r11.dup_span_intervals_q,
                           r11.DUP_SPAN_INTERVALS_SQL),
    "clean_corpus_export": (r11.clean_corpus_export,
                            r11.CLEAN_CORPUS_EXPORT_SQL),
    # ---- stale tail: the three remaining r06 greens, then the r07
    # tranche (VERDICT r12 task 6) — 5 + 11 + 3 + 31 = the 50-entry
    # prefix; eight r07 greens (json_roundtrip .. asof_tolerance)
    # did not fit behind the changed-machinery head and lead the r14
    # rotation ----
    "compaction_roundtrip": (r6.compaction_roundtrip,
                             r6.COMPACTION_ROUNDTRIP_SQL),
    "dq_checks": (r6.dq_checks, r6.DQ_CHECKS_SQL),
    "incremental_rollup": (r6.incremental_rollup,
                           r6.INCREMENTAL_ROLLUP_SQL),
    "rollup_serve_only": (r7.rollup_serve_only, r7.ROLLUP_SERVE_ONLY_SQL),
    "trend_per_group": (r6.trend_per_group, r6.TREND_PER_GROUP_SQL),
    "kcore_peel": (r4.kcore_peel_q, r4.KCORE_PEEL_SQL),
    "event_pairs_within": (pq.event_pairs_within, pq.EVENT_PAIRS_SQL),
    "window_cumall": (r.window_cumall, r.WINDOW_CUMALL_SQL),
    "window_topn_per_group": (r.window_topn_per_group, r.WINDOW_TOPN_SQL),
    "replace_nulls": (pq.replace_nulls_q, pq.REPLACE_NULLS_SQL),
    "sort_nulls_first": (pq.sort_nulls_first, pq.SORT_NULLS_FIRST_SQL),
    "quantile_stats": (r.quantile_stats, r.QUANTILE_STATS_SQL),
    "minmax_by": (r.minmax_by, r.MINMAX_BY_SQL),
    "sequence_agg": (r.sequence_agg, r.SEQUENCE_AGG_SQL),
    "contains_column": (r.contains_column_q, r.CONTAINS_COLUMN_SQL),
    "user_event_gaps": (pq.user_event_gaps_q, pq.USER_EVENT_GAPS_SQL),
    "multimodal_real_decode": (pq.multimodal_real_decode,
                               pq.MULTIMODAL_REAL_DECODE_SQL),
    "bigram_fluency": (pq.bigram_fluency, pq.BIGRAM_FLUENCY_SQL),
    "pii_redaction": (pq.pii_redaction, pq.PII_REDACTION_SQL),
    "stream_dedup_drain": (pq.stream_dedup_drain, pq.STREAM_DEDUP_SQL),
    "stream_user_stats": (pq.stream_user_stats_drain, pq.STREAM_USER_STATS_SQL),
    "stream_etl_ingest": (pq.stream_etl_ingest, pq.STREAM_ETL_INGEST_SQL),
    "events_stream_sliding": (pq.events_stream_sliding,
                              pq.EVENTS_STREAM_SLIDING_SQL),
    "events_stream_session": (pq.events_stream_session,
                              pq.EVENTS_STREAM_SESSION_SQL),
    "semantic_dedup": (pq.semantic_dedup_q, pq.SEMANTIC_DEDUP_SQL),
    "sq8_search": (pq.sq8_search, pq.SQ8_SEARCH_SQL),
    "ivf_sq8_search": (pq.ivf_sq8_search, pq.IVF_SQ8_SEARCH_SQL),
    "pagerank_users": (pq.pagerank_users, pq.PAGERANK_SQL),
    "correlated_subquery": (r.correlated_subquery, r.CORRELATED_SUBQUERY_SQL),
    "exists_subquery": (r.exists_subquery, r.EXISTS_SUBQUERY_SQL),
    "train_split_stats": (pq.train_split_stats, pq.TRAIN_SPLIT_SQL),
    "pipeline_end_to_end": (pq.pipeline_end_to_end, pq.PIPELINE_END_TO_END_SQL),
    "parquet_roundtrip": (rt.parquet_roundtrip, rt.PARQUET_ROUNDTRIP_SQL),
    "csv_roundtrip": (rt.csv_roundtrip, rt.CSV_ROUNDTRIP_SQL),
    # ======================== 50-entry prefix boundary =====================
    "json_roundtrip": (rt.json_roundtrip, rt.JSON_ROUNDTRIP_SQL),
    "arrow_roundtrip": (rt.arrow_roundtrip, rt.ARROW_ROUNDTRIP_SQL),
    "ngram_dup_counts": (pq.ngram_dup_counts, pq.NGRAM_DUP_SQL),
    # ---- later blocks by round of last driver verification, oldest
    # first (relative order unchanged) ----
    "except_custkeys": (r.except_custkeys, r.EXCEPT_SQL),
    "math_functions": (r.math_functions, r.MATH_FUNCTIONS_SQL),
    "asof_purchase_view": (r.asof_purchase_view, r.ASOF_SQL),
    "join_inner": (r.join_inner, r.JOIN_INNER_SQL),
    "join_left": (r.join_left, r.JOIN_LEFT_SQL),
    "join_semi": (r.join_semi, r.JOIN_SEMI_SQL),
    "join_anti": (r.join_anti, r.JOIN_ANTI_SQL),
    "join_full": (r.join_full, r.JOIN_FULL_SQL),
    "skew_salted_join": (r.skew_salted_join, r.SKEW_SALTED_JOIN_SQL),
    "skew_salted_agg": (r.skew_salted_agg, r.SKEW_SALTED_AGG_SQL),
    "groupby_aggs": (r.groupby_aggs, r.GROUPBY_AGGS_SQL),
    "reduce_global": (r.reduce_global, r.REDUCE_GLOBAL_SQL),
    "distinct_keys": (r.distinct_keys, r.DISTINCT_KEYS_SQL),
    "sort_topk": (r.sort_topk, r.SORT_TOPK_SQL),
    "sort_tail": (r.sort_tail, r.SORT_TAIL_SQL),
    "slice_offset": (r.slice_offset, r.SLICE_OFFSET_SQL),
    "union_all": (r.union_all, r.UNION_ALL_SQL),
    "case_when_bucket": (r.case_when_bucket, r.CASE_WHEN_SQL),
    "isin_filter": (r.isin_filter, r.ISIN_SQL),
    "string_match": (r.string_match, r.STRING_MATCH_SQL),
    "arithmetic_expr": (r.arithmetic_expr, r.ARITHMETIC_SQL),
    "ann_index_compact": (r7.ann_index_compact, r7.ANN_INDEX_COMPACT_SQL),
    "incremental_dedup": (r5.incremental_dedup, r5.INCREMENTAL_DEDUP_SQL),
    "dedup_serve_only": (r7.dedup_serve_only, r7.DEDUP_SERVE_ONLY_SQL),
    "bm25_persisted_search": (r6.bm25_persisted_search,
                              r6.BM25_PERSISTED_SEARCH_SQL),
    "ann_ivf_search": (pq.ann_ivf_search, pq.ANN_IVF_SEARCH_SQL),
    "ann_kmeans_search": (pq.ann_kmeans_search, pq.ANN_KMEANS_SQL),
    "ann_persisted_search": (r6.ann_persisted_search,
                             r6.ANN_PERSISTED_SEARCH_SQL),
    "bm25_serve_only": (r7.bm25_serve_only, r7.BM25_SERVE_ONLY_SQL),
    "components_serve_only": (r7.components_serve_only,
                              r7.COMPONENTS_SERVE_ONLY_SQL),
    "incremental_components": (r6.incremental_components,
                               r6.INCREMENTAL_COMPONENTS_SQL),
    "stream_dedup_vs_index": (r6.stream_dedup_vs_index,
                              r6.STREAM_DEDUP_VS_INDEX_SQL),
    "incremental_components_chain": (r7.incremental_components_chain,
                                     r7.INCREMENTAL_COMPONENTS_CHAIN_SQL),
    "stream_dedup_chain": (r7.stream_dedup_chain,
                           r7.STREAM_DEDUP_CHAIN_SQL),
    "quality_filter": (pq.quality_filter, pq.QUALITY_FILTER_SQL),
    "json_extract_props": (pq.json_extract_props, pq.JSON_EXTRACT_SQL),
    "rolling_range_window": (pq.rolling_range_window, pq.ROLLING_RANGE_SQL),
    "mixture_sample": (pq.mixture_sample_q, pq.MIXTURE_SAMPLE_SQL),
    "asof_tolerance": (r.asof_tolerance, r.ASOF_TOLERANCE_SQL),
    "stream_rollup_chain": (r8.stream_rollup_chain,
                            r8.STREAM_ROLLUP_CHAIN_SQL),
    "cogroup_user_orders": (pq.cogroup_user_orders,
                            pq.COGROUP_USER_ORDERS_SQL),
    "winsorize_stats": (r6.winsorize_stats, r6.WINSORIZE_SQL),
    "incremental_rollup_partitioned": (
        r7.incremental_rollup_partitioned,
        r7.INCREMENTAL_ROLLUP_PARTITIONED_SQL),
    "interval_overlap_join": (r6.interval_overlap_join,
                              r6.INTERVAL_OVERLAP_SQL),
    "approx_sketches": (r.approx_sketches, r.APPROX_SKETCHES_SQL),
    "ann_projected": (pq.ann_projected, pq.ANN_PROJECTED_SQL),
    "pivot_event_values": (pq.pivot_event_values, pq.PIVOT_EVENT_VALUES_SQL),
    "unpivot_metrics": (r.unpivot_metrics, r.UNPIVOT_METRICS_SQL),
    "window_lag_lead": (r.window_lag_lead, r.WINDOW_LAG_LEAD_SQL),
    "funnel_conversion": (pq.funnel_conversion, pq.FUNNEL_CONVERSION_SQL),
    "merge_upsert": (pq.merge_upsert_customers, pq.MERGE_UPSERT_SQL),
    "event_transitions": (pq.event_transitions, pq.EVENT_TRANSITIONS_SQL),
    "arrow_grouped_stats": (pq.arrow_grouped_stats,
                            pq.ARROW_GROUPED_STATS_SQL),
    "pmi_collocations": (pq.pmi_collocations_q, pq.PMI_COLLOCATIONS_SQL),
    "vocab_coverage": (pq.vocab_coverage_q, pq.VOCAB_COVERAGE_SQL),
    "segment_dedup": (pq.segment_dedup, pq.SEGMENT_DEDUP_SQL),
    "tfidf_terms": (pq.tfidf_terms, pq.TFIDF_TERMS_SQL),
    "char_entropy": (pq.char_entropy, pq.CHAR_ENTROPY_SQL),
    "lang_mismatch": (pq.lang_mismatch, pq.LANG_MISMATCH_SQL),
    "zipf_fit": (pq.zipf_fit, pq.ZIPF_FIT_SQL),
    "source_rollup": (pq.source_rollup, pq.SOURCE_ROLLUP_SQL),
    "weighted_sample": (pq.weighted_sample, pq.WEIGHTED_SAMPLE_SQL),
    "psi_drift": (pq.psi_drift, pq.PSI_DRIFT_SQL),
    "window_rank_stats": (pq.window_rank_stats, pq.WINDOW_RANK_STATS_SQL),
    "cross_source_overlap": (pq.cross_source_overlap,
                             pq.CROSS_SOURCE_OVERLAP_SQL),
    "cluster_label_purity": (pq.cluster_label_purity,
                             pq.CLUSTER_LABEL_PURITY_SQL),
    "bloom_decontaminate": (pq.bloom_decontaminate,
                            pq.BLOOM_DECONTAMINATE_SQL),
    "triangle_count": (pq.triangle_count, pq.TRIANGLE_COUNT_SQL),
    "scd2_intervals": (r.scd2_intervals, r.SCD2_INTERVALS_SQL),
    "heavy_hitter_tokens": (pq.heavy_hitter_tokens,
                            pq.HEAVY_HITTER_TOKENS_SQL),
    "bpe_merges": (pq.bpe_merges, pq.BPE_MERGES_SQL),
    "bpe_encode_stats": (pq.bpe_encode_stats, pq.BPE_ENCODE_STATS_SQL),
    "equidepth_histogram": (r.equidepth_histogram,
                            r.EQUIDEPTH_HISTOGRAM_SQL),
    "profile_table": (r.profile_table, r.PROFILE_TABLE_SQL),
    "embedding_standardize": (pq.embedding_standardize,
                              pq.EMBEDDING_STANDARDIZE_SQL),
    "stream_stream_join": (pq.stream_stream_join, pq.STREAM_STREAM_JOIN_SQL),
    "leakage_free_split": (pq.leakage_free_split, pq.LEAKAGE_FREE_SPLIT_SQL),
    "hybrid_rrf_search": (pq.hybrid_rrf_search, pq.HYBRID_RRF_SQL),
    "ann_recall_audit": (pq.ann_recall_audit, pq.ANN_RECALL_AUDIT_SQL),
    "stats_moments": (r4.stats_moments, r4.STATS_MOMENTS_SQL),
    "bitwise_aggs": (r4.bitwise_aggs, r4.BITWISE_AGGS_SQL),
    "mode_per_group": (r4.mode_per_group, r4.MODE_PER_GROUP_SQL),
    "filtered_aggs": (r4.filtered_aggs, r4.FILTERED_AGGS_SQL),
    "skyline_orders": (r4.skyline_orders, r4.SKYLINE_ORDERS_SQL),
    "sequence_gaps": (r4.sequence_gaps, r4.SEQUENCE_GAPS_SQL),
    "time_decay_revenue": (r4.time_decay_revenue, r4.TIME_DECAY_REVENUE_SQL),
    "string_functions2": (r4.string_functions2, r4.STRING_FUNCTIONS2_SQL),
    "date_functions": (r4.date_functions, r4.DATE_FUNCTIONS_SQL),
    "array_functions": (r4.array_functions, r4.ARRAY_FUNCTIONS_SQL),
    "regexp_extract_numbers": (r4.regexp_extract_numbers,
                               r4.REGEXP_EXTRACT_NUMBERS_SQL),
    "binary_hamming_search": (r4.binary_hamming_search,
                              r4.BINARY_HAMMING_SEARCH_SQL),
    "matryoshka_search": (r4.matryoshka_search, r4.MATRYOSHKA_SEARCH_SQL),
    "minhash_precision_audit": (r4.minhash_precision_audit,
                                r4.MINHASH_PRECISION_AUDIT_SQL),
    "label_propagation": (r4.label_propagation, r4.LABEL_PROPAGATION_SQL),
    "bfs_hops": (r4.bfs_hops_q, r4.BFS_HOPS_SQL),
    "canonical_best_quality": (r4.canonical_best_quality,
                               r4.CANONICAL_BEST_QUALITY_SQL),
    "blocklist_filter": (r4.blocklist_filter, r4.BLOCKLIST_FILTER_SQL),
    "readability_scores": (r4.readability_scores,
                           r4.READABILITY_SCORES_SQL),
    "inverted_postings": (r4.inverted_postings, r4.INVERTED_POSTINGS_SQL),
    "rolling_zscore": (r4.rolling_zscore, r4.ROLLING_ZSCORE_SQL),
    "quantile_normalize": (r4.quantile_normalize,
                           r4.QUANTILE_NORMALIZE_SQL),
    "stream_late_drop": (r4.stream_late_drop, r4.STREAM_LATE_DROP_SQL),
    "parquet_schema_merge": (r4.parquet_schema_merge,
                             r4.PARQUET_SCHEMA_MERGE_SQL),
    "window_first_last": (r4.window_first_last, r4.WINDOW_FIRST_LAST_SQL),
    "range_interval_window": (r4.range_interval_window,
                              r4.RANGE_INTERVAL_WINDOW_SQL),
    "sha_checksums": (r4.sha_checksums, r4.SHA_CHECKSUMS_SQL),
    "string_agg_ordered": (r4.string_agg_ordered,
                           r4.STRING_AGG_ORDERED_SQL),
    "hll_rollup_audit": (r4.hll_rollup_audit, r4.HLL_ROLLUP_AUDIT_SQL),
    "percentile_disc": (r4.percentile_disc, r4.PERCENTILE_DISC_SQL),
    "url_stats": (r4.url_stats, r4.URL_STATS_SQL),
    "harmonic_geo_means": (r4.harmonic_geo_means,
                           r4.HARMONIC_GEO_MEANS_SQL),
    "dedup_index_delete": (r8.dedup_index_delete,
                           r8.DEDUP_INDEX_DELETE_SQL),
    "ann_index_delete": (r8.ann_index_delete, r8.ANN_INDEX_DELETE_SQL),
    "bm25_index_delete": (r8.bm25_index_delete,
                          r8.BM25_INDEX_DELETE_SQL),
    "bm25_index_insert": (r8.bm25_index_insert,
                          r8.BM25_INDEX_INSERT_SQL),
    "components_index_delete": (r8.components_index_delete,
                                r8.COMPONENTS_INDEX_DELETE_SQL),
    "ann_index_retrain": (r8.ann_index_retrain,
                          r8.ANN_INDEX_RETRAIN_SQL),
    "ann_serve_only": (r7.ann_serve_only, r7.ANN_SERVE_ONLY_SQL),
    "ann_index_insert": (r6.ann_index_insert, r6.ANN_INDEX_INSERT_SQL),
    "bm25_index_timetravel": (r9.bm25_index_timetravel,
                              r9.BM25_INDEX_TIMETRAVEL_SQL),
    "ann_index_timetravel": (r9.ann_index_timetravel,
                             r9.ANN_INDEX_TIMETRAVEL_SQL),
    "rollup_schema_evolution": (r10.rollup_schema_evolution,
                                r10.ROLLUP_SCHEMA_EVOLUTION_SQL),
    "export_shards": (r10b.export_shards, r10b.EXPORT_SHARDS_SQL),
    "rollup_histogram_rebin": (r9.rollup_histogram_rebin,
                               r9.ROLLUP_HISTOGRAM_REBIN_SQL),
    "rollup_histogram_chain": (r8.rollup_histogram_chain,
                               r8.ROLLUP_HISTOGRAM_CHAIN_SQL),
    "rollup_generation_diff": (r9.rollup_generation_diff,
                               r9.ROLLUP_GENERATION_DIFF_SQL),
    "components_label_diff": (r9.components_label_diff,
                              r9.COMPONENTS_LABEL_DIFF_SQL),
    "rollup_retract": (r8.rollup_retract_q, r8.ROLLUP_RETRACT_SQL),
    "rollup_retract_nulls": (r9.rollup_retract_nulls,
                             r9.ROLLUP_RETRACT_NULLS_SQL),
    "incremental_rollup_chain": (r7.incremental_rollup_chain,
                                 r7.INCREMENTAL_ROLLUP_CHAIN_SQL),
    "tpch_refresh_maintenance": (r8.tpch_refresh_maintenance,
                                 r8.TPCH_REFRESH_SQL),
    "knn_classify": (r4.knn_classify_q, r4.KNN_CLASSIFY_SQL),
    "bucketed_join": (r5.bucketed_join, r5.BUCKETED_JOIN_SQL),
    "q01_pricing_summary": (r.q01_pricing_summary, r.Q01_SQL),
    "q03_shipping_priority": (r.q03_shipping_priority, r.Q03_SQL),
    "q05_nation_revenue": (r.q05_nation_revenue, r.Q05_SQL),
    "q04_order_priority": (r.q04_order_priority, r.Q04_SQL),
    "q06_forecast_revenue": (r.q06_forecast_revenue, r.Q06_SQL),
    "q07_volume_shipping": (r.q07_volume_shipping, r.Q07_SQL),
    "q08_market_share": (r.q08_market_share, r.Q08_SQL),
    "q10_returned_items": (r.q10_returned_items, r.Q10_SQL),
    "q12_priority_lines": (r.q12_priority_lines, r.Q12_SQL),
    "q14_promo_revenue": (r.q14_promo_revenue, r.Q14_SQL),
    "q17_small_quantity": (r.q17_small_quantity, r.Q17_SQL),
    "q18_large_orders": (r.q18_large_orders, r.Q18_SQL),
    "q19_disjunctive": (r.q19_disjunctive, r.Q19_SQL),
    "q22_idle_customers": (r.q22_idle_customers, r.Q22_SQL),
    "q02_best_supplier": (r.q02_best_supplier, r.Q02_SQL),
    "q09_product_profit": (r.q09_product_profit, r.Q09_SQL),
    "q11_important_parts": (r.q11_important_parts, r.Q11_SQL),
    "q13_customer_distribution": (r.q13_customer_distribution, r.Q13_SQL),
    "q15_top_supplier": (r.q15_top_supplier, r.Q15_SQL),
    "q16_supplier_count": (r.q16_supplier_count, r.Q16_SQL),
    "q20_volume_suppliers": (r.q20_volume_suppliers, r.Q20_SQL),
    "q21_waiting_suppliers": (r.q21_waiting_suppliers, r.Q21_SQL),
    "rollup_flags": (r.rollup_flags, r.ROLLUP_SQL),
    "cube_orders": (r.cube_orders, r.CUBE_SQL),
    "grouping_sets_mix": (r.grouping_sets_mix, r.GROUPING_SETS_SQL),
    "intersect_custkeys": (r.intersect_custkeys, r.INTERSECT_SQL),
    "stream_cdf_apply_chain": (r11.stream_cdf_apply_chain,
                               r11.STREAM_CDF_APPLY_CHAIN_SQL),
    "manifest_bloom_lookup": (r10b.manifest_bloom_lookup,
                              r10b.MANIFEST_BLOOM_LOOKUP_SQL),
    "cdf_apply_roundtrip": (r10b.cdf_apply_roundtrip,
                            r10b.CDF_APPLY_ROUNDTRIP_SQL),
    "rollup_manifest_refresh": (r10.rollup_manifest_refresh,
                                r10.ROLLUP_MANIFEST_REFRESH_SQL),
    "manifest_pruned_scan": (r10.manifest_pruned_scan,
                             r10.MANIFEST_PRUNED_SCAN_SQL),
    "index_compaction_signal": (r10.index_compaction_signal,
                                r10.INDEX_COMPACTION_SIGNAL_SQL),
    "stream_manifest_chain": (r10.stream_manifest_chain,
                              r10.STREAM_MANIFEST_CHAIN_SQL),
    # ---- greened by the r12 driver, unchanged this round (freshest) ----
    "swap_contention_objectstore": (
        r12.swap_contention_objectstore,
        r12.SWAP_CONTENTION_OBJECTSTORE_SQL),
    "substring_span_removal_raw": (r11.substring_span_removal_raw,
                                   r11.SUBSTRING_SPAN_REMOVAL_RAW_SQL),
    "swap_contention": (r10b.swap_contention,
                        r10b.SWAP_CONTENTION_SQL),
    "asof_unstamped_default": (r11.asof_unstamped_default,
                               r11.ASOF_UNSTAMPED_DEFAULT_SQL),
    "rollup_swap_atomic": (r8.rollup_swap_atomic,
                           r8.ROLLUP_SWAP_ATOMIC_SQL),
    "rollup_timetravel": (r8.rollup_timetravel,
                          r8.ROLLUP_TIMETRAVEL_SQL),
    "dedup_index_timetravel": (r9.dedup_index_timetravel,
                               r9.DEDUP_INDEX_TIMETRAVEL_SQL),
    "takedown_cascade": (r10b.takedown_cascade,
                         r10b.TAKEDOWN_CASCADE_SQL),
    "rollup_timetravel_asof": (r10b.rollup_timetravel_asof,
                               r10b.ROLLUP_TIMETRAVEL_ASOF_SQL),
    "dedup_exact": (pq.dedup_exact, pq.DEDUP_EXACT_SQL),
    "dedup_ngram": (pq.dedup_ngram, pq.DEDUP_NGRAM_SQL),
    "dedup_minhash": (pq.dedup_minhash, pq.DEDUP_MINHASH_SQL),
    "dedup_clusters": (pq.dedup_clusters, pq.DEDUP_CLUSTERS_SQL),
    "dedup_simhash": (pq.dedup_simhash, pq.DEDUP_SIMHASH_SQL),
    "dedup_levenshtein": (pq.dedup_levenshtein, pq.DEDUP_LEVENSHTEIN_SQL),
    "embedding_neardup": (pq.embedding_neardup, pq.EMBEDDING_NEARDUP_SQL),
    "similarity_topk": (pq.similarity_topk, pq.SIMILARITY_TOPK_SQL),
    "ann_ivf_assign": (pq.ann_ivf_assign, pq.ANN_IVF_SQL),
    "kmeans_centroids": (pq.kmeans_centroids, pq.KMEANS_SQL),
    "pq_codes": (pq.pq_codes, pq.PQ_CODES_SQL),
    "pq_adc_search": (pq.pq_adc_search, pq.PQ_ADC_SEARCH_SQL),
    "ivfpq_search": (pq.ivfpq_search, pq.IVFPQ_SEARCH_SQL),
    "embedding_norms": (pq.embedding_norms, pq.EMBEDDING_NORMS_SQL),
    "text_stats": (pq.text_stats, pq.TEXT_STATS_SQL),
    "token_count": (pq.token_count, pq.TOKEN_COUNT_SQL),
    "lang_id": (pq.lang_id, pq.LANG_ID_SQL),
    "doc_fingerprint": (pq.doc_fingerprint, pq.DOC_FINGERPRINT_SQL),
    "quality_scores": (pq.quality_scores, pq.QUALITY_SCORES_SQL),
    "doc_chunks": (pq.doc_chunks, pq.DOC_CHUNKS_SQL),
    "repetition_signals": (pq.repetition_signals_q, pq.REPETITION_SIGNALS_SQL),
    "decontaminate_overlap": (pq.decontaminate_overlap, pq.DECONTAMINATE_SQL),
    "stratified_sample": (pq.stratified_sample_q, pq.STRATIFIED_SAMPLE_SQL),
    "unigram_logprob": (pq.unigram_logprob_q, pq.UNIGRAM_LOGPROB_SQL),
    "bm25_search": (pq.bm25_search, pq.BM25_SEARCH_SQL),
    "pack_assignments": (pq.pack_assignments, pq.PACK_ASSIGNMENTS_SQL),
    "byte_stats_arrow": (pq.byte_stats_arrow, pq.BYTE_STATS_ARROW_SQL),
    "multimodal_features": (pq.multimodal_features, pq.MULTIMODAL_FEATURES_SQL),
    "multimodal_frames": (pq.multimodal_frames, pq.MULTIMODAL_FRAMES_SQL),
    "events_tumbling": (pq.events_tumbling, pq.EVENTS_TUMBLING_SQL),
    "events_stream_tumbling": (pq.events_stream_tumbling,
                               pq.EVENTS_STREAM_TUMBLING_SQL),
    "user_retention": (pq.user_retention, pq.USER_RETENTION_SQL),
    "events_sliding": (pq.events_sliding, pq.EVENTS_SLIDING_SQL),
    "sessionize": (pq.sessionize, pq.SESSIONIZE_SQL),
    "ts_extract": (r.ts_extract, r.TS_EXTRACT_SQL),
    "ts_parse": (r.ts_parse, r.TS_PARSE_SQL),
    "window_cumsum": (r.window_cumsum, r.WINDOW_CUMSUM_SQL),
}

def _with_cache_release(fn: QueryFn) -> QueryFn:
    """Release the previous query's tracked persists before planning the
    next one (ADVICE r01: persists had no matching unpersist, so ~90
    queries in one driver session accumulated cached blocks for its
    lifetime).  Released subtrees recompute if ever re-consumed —
    correctness-safe by construction."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


QUERIES: dict[str, QueryFn] = {
    k: _with_cache_release(v[0]) for k, v in _REGISTRY.items()
}
ORACLES: dict[str, str] = {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}

__all__ = ["QUERIES", "ORACLES", "load_table"]
