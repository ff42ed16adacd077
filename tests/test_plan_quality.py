"""Physical-plan assertions: the optimizations we rely on at 100 TB
must actually appear in the plan — filter/column pushdown into the
parquet scan, broadcast joins for dims, distributed top-k, partial
aggregation.  These catch silent plan regressions that correctness
tests cannot."""

from __future__ import annotations

import contextlib
import io

import pytest

from legate_dataframe_spark.plans.registry import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q01_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused columns must not be read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]:
        assert col not in read_schema, f"{col} should be pruned from the scan"
    assert "l_extendedprice" in read_schema


def test_q05_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(QUERIES["q05_nation_revenue"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, customer, nation


def test_sort_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["sort_topk"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan


def test_q01_partial_aggregation(spark, sf_dir):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, sf_dir), "simple")
    assert "partial_sum" in plan or "partial_" in plan  # map-side combine


def test_q01_wholestage_codegen(spark, sf_dir):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, sf_dir), "codegen")
    assert "WholeStageCodegen subtrees" in plan


def test_isin_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["isin_filter"](spark, sf_dir))
    assert "PushedFilters: [In(o_orderpriority" in plan


def test_join_semi_is_semi_join(spark, sf_dir):
    plan = plan_of(QUERIES["join_semi"](spark, sf_dir), "simple")
    assert "LeftSemi" in plan


def test_contains_column_haystack_broadcasts(spark):
    from pyspark.sql import functions as F

    from legate_dataframe_spark.operators.search import contains

    needles = spark.range(0, 1000).withColumnRenamed("id", "x")
    hay = spark.range(0, 10).withColumnRenamed("id", "h")
    plan = plan_of(contains(needles, "x", hay, "h"), "simple")
    assert "BroadcastHashJoin" in plan


def test_q09_broadcasts_dims(spark, sf_dir):
    # part/supplier/nation are dims — all must broadcast; the only
    # sort-merge-eligible join is lineitem⋈orders (fact-fact).
    plan = plan_of(QUERIES["q09_product_profit"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "ShuffledHashJoin" not in plan


def test_q02_topk_and_no_selfjoin(spark, sf_dir):
    # correlated-MIN rewritten as a window — there must be no second
    # scan of lineitem (one ReadSchema mention of l_partkey source).
    plan = plan_of(QUERIES["q02_best_supplier"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("lineitem.parquet") == 1


def test_q21_single_fact_shuffle(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair is one per-order aggregate over a
    # SHARED fact-join subtree: both the stats and late branches must
    # read the persisted join (InMemoryTableScan), never re-run the
    # lineitem⋈orders join per correlated probe.  (Raw scan-count
    # assertions are cache-state-dependent — the InMemoryRelation
    # reprints its child plan under each consumer.)
    plan = plan_of(QUERIES["q21_waiting_suppliers"](spark, sf_dir), "simple")
    assert plan.count("InMemoryTableScan") >= 2


@pytest.mark.parametrize("name", ["q11_important_parts", "q15_top_supplier"])
def test_global_agg_vs_detail_shares_subtree(spark, sf_dir, name):
    # the per-key aggregate feeds both the global threshold/max and the
    # detail filter — both consumers must read the persisted subtree
    # (InMemoryTableScan), not re-run the lineitem aggregation.
    plan = plan_of(QUERIES[name](spark, sf_dir), "simple")
    assert plan.count("InMemoryTableScan") >= 2, name


def test_q16_anti_join_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["q16_supplier_count"](spark, sf_dir), "simple")
    assert "LeftAnti, BuildRight" in plan


def test_event_pairs_is_hash_join_not_cartesian(spark, sf_dir):
    # equi-key user_id must anchor the range join: a hash/merge join with
    # the range predicate as a post-condition, never BroadcastNestedLoop
    # or Cartesian (which would be |E|^2 at scale).
    plan = plan_of(QUERIES["event_pairs_within"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_stats_partial_agg(spark, sf_dir):
    # percentile must still use partial (map-side) aggregation
    plan = plan_of(QUERIES["quantile_stats"](spark, sf_dir), "simple")
    assert "partial_percentile" in plan


def test_no_cartesian_anywhere(spark, sf_dir, registry_plans):
    # registry-wide hygiene: a CartesianProduct anywhere is quadratic
    # at scale; BroadcastNestedLoopJoin only where a side is tiny BY
    # CONSTRUCTION (1-row scalar subqueries; deliberate broadcast-small
    # cross joins for brute-force cosine / IVF centroid assignment).
    bnlj_ok = {
        "q11_important_parts",   # vs 1-row global-threshold aggregate
        "q22_idle_customers",    # vs 1-row avg-balance aggregate
        "similarity_topk",       # corpus × |Q| broadcast query vectors
        "ann_ivf_assign",        # corpus × broadcast centroids
        "ann_ivf_search",        # probes × broadcast centroids
        "kmeans_centroids",      # corpus × broadcast centroids per iter
        "ann_kmeans_search",     # trained centroids broadcast, same shape
        "ivfpq_search",          # coarse quantizer: corpus × broadcast centroids
        "unigram_logprob",       # vs 1-row corpus-total aggregate
        "bm25_search",           # vs 1-row (N, avgdl) stats aggregate
        "quality_filter",        # vs 1-row percentile-threshold aggregate
        "ann_projected",         # corpus × broadcast projected query vectors
        "pmi_collocations",      # vs 1-row total-bigram-count aggregate
        "funnel_conversion",     # three 1-row stage-count aggregates
        "sq8_search",            # vs 1-row per-dim min/max stats +
                                 # broadcast quantized query codes
        "tfidf_terms",           # vs 1-row corpus-doc-count aggregate
        "semantic_dedup",        # corpus × broadcast centroids (assign)
        "ivf_sq8_search",        # corpus × broadcast centroids + 1-row
                                 # min/max stats (quantizer)
        "psi_drift",             # vs 1-row global min/max bin edges
        "pagerank_users",        # vs 1-row node-count aggregate
        "time_decay_revenue",    # vs 1-row corpus-max-date aggregate
        "binary_hamming_search", # corpus codes × broadcast query codes
        "matryoshka_search",     # corpus prefixes × broadcast query prefixes
        "knn_classify",          # brute_force_topk's broadcast query side
        "cluster_label_purity",  # corpus × broadcast centroids (assign)
        "bloom_decontaminate",   # vs 1-row broadcast Bloom bitmap
        "heavy_hitter_tokens",   # vs 1-row total-token-count aggregate
        "bpe_encode_stats",      # vs 1-row broadcast merge-rule arrays
        "equidepth_histogram",   # vs 1-row decile-boundary aggregate
        "embedding_standardize", # vs 1-row per-dim whitening stats
        "hybrid_rrf_search",     # bm25 1-row stats + broadcast query vec
        "ann_recall_audit",      # brute-force + IVF legs, broadcast q/cen
        "dq_checks",             # four 1-row rule-aggregate frames
                                 # cross-joined before the stack unpivot
        "ann_serve_only",        # ivf_search_persisted with AQE on:
                                 # probes × broadcast centroids (its
                                 # build+serve twin pins the bucketed
                                 # no-broadcast plan instead)
        "bm25_serve_only",       # vs 1-row (N, avgdl) stats aggregate
        "ann_index_compact",     # post-compaction serve, same shape
    }
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        plan = registry_plans.get(name) or plan_of(fn(spark, sf_dir),
                                                   "simple")
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_sequence_is_local_range(spark, sf_dir):
    # generated sequence: a Range leaf, no file scan, no exchange until
    # the final single-row aggregate.
    plan = plan_of(QUERIES["sequence_agg"](spark, sf_dir), "simple")
    assert "Range (1" in plan
    assert "FileScan" not in plan


def test_pq_adc_search_all_broadcast_joins(spark, sf_dir):
    """The corpus-sized code table must never shuffle: codebooks and
    the per-query distance table ride broadcast-side."""
    plan = plan_of(QUERIES["pq_adc_search"](spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_dedup_levenshtein_equi_joins_only(spark, sf_dir):
    """Edit-distance dedup must stay LSH-blocked: band-bucket and
    id-keyed equi-joins, no cartesian, and the thresholded (3-arg)
    levenshtein in the condition."""
    plan = plan_of(QUERIES["dedup_levenshtein"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "levenshtein" in plan


def test_ivfpq_search_single_build_join(spark, sf_dir):
    """Query-time structures (probe, distance table, codebooks) ride
    broadcast-side; the only shuffle join is the build-time
    codes-with-coarse-assignment zip (co-resident in a deployed
    index)."""
    plan = plan_of(QUERIES["ivfpq_search"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 3


def test_unpivot_is_narrow_expand(spark, sf_dir):
    """unpivot must plan as an Expand over the scan — no shuffle, no
    join; 4 output rows per input row materialize in the same stage."""
    plan = plan_of(QUERIES["unpivot_metrics"](spark, sf_dir), "simple")
    assert "Expand" in plan
    assert "Exchange" not in plan
    # column pruning through the unpivot: comment/shipdate not read
    fplan = plan_of(QUERIES["unpivot_metrics"](spark, sf_dir))
    read_schema = [ln for ln in fplan.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" not in read_schema


def test_json_extract_prunes_scan(spark, sf_dir):
    """get_json_object runs JVM-side over a scan that reads ONLY the
    props + grouping columns."""
    plan = plan_of(QUERIES["json_extract_props"](spark, sf_dir))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" in read_schema and "event_type" in read_schema
    for col in ["user_id", "value", "ts"]:
        assert col not in read_schema, f"{col} should be pruned"
    assert "BatchEvalPython" not in plan  # no Python in the hot path


def test_rolling_range_window_single_shuffle(spark, sf_dir):
    """The trailing-hour RANGE frame needs exactly one Exchange (hash
    by user_id) — a second one would mean the window re-partitioned."""
    plan = plan_of(QUERIES["rolling_range_window"](spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_pivot_no_discovery_scan(spark, sf_dir):
    """With an explicit value list the pivot is ONE aggregate over one
    shuffle — no second scan to discover the pivot values."""
    plan = plan_of(QUERIES["pivot_event_values"](spark, sf_dir), "simple")
    assert plan.count("FileScan") == 1


def test_merge_upsert_no_bnlj(spark, sf_dir):
    """The MERGE emulation is a keyed full-outer join: SortMergeJoin
    FullOuter (AQE may leave it unconverted), never a nested loop."""
    plan = plan_of(QUERIES["merge_upsert"](spark, sf_dir), "simple")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exists_subquery_decorrelates_to_semi_anti(spark, sf_dir):
    # the EXISTS/NOT EXISTS pair must become left-semi + left-anti
    # hash joins — no nested-loop per-row subquery execution survives
    plan = plan_of(QUERIES["exists_subquery"](spark, sf_dir), "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_correlated_subquery_decorrelates_to_aggregate_join(spark, sf_dir):
    # the correlated scalar subquery becomes a per-nation aggregate
    # joined back on the correlation key
    plan = plan_of(QUERIES["correlated_subquery"](spark, sf_dir), "simple")
    assert "HashAggregate" in plan
    assert "Join" in plan
    assert "CartesianProduct" not in plan
