#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
two JSON lines: the extras' per-query wall times, then the compact
headline object as the FINAL line.  ``--all`` instead times every
registry entry once (the coverage ledger, ``run_all``).

Queries are forced to full materialization with the noop sink (no
result collection to the driver, no output IO) so the measured time is
the distributed compute itself — the same methodology as the
reference's fence-to-fence timing (python/benchmarks/join.py:95-97).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_revenue",
    "q09_product_profit",
    "q21_waiting_suppliers",
    "join_inner",
    "groupby_aggs",
    "distinct_keys",
    "sort_topk",
    "window_cumsum",
    "window_topn_per_group",
    "events_tumbling",
    "sessionize",
    "arithmetic_expr",
    "text_stats",
    "dedup_exact",
    "dedup_minhash",
    "dedup_clusters",
    "pipeline_end_to_end",
    "similarity_topk",
    "ann_ivf_assign",
]

# round-2 flagships, timed and reported under "extra_queries" (kept out
# of the headline total so BENCH totals stay baseline-comparable)
EXTRA = [
    "dedup_levenshtein",
    "pq_codes",
    "pq_adc_search",
    "byte_stats_arrow",
    "events_stream_tumbling",
    # round-3 additions
    "ivfpq_search",
    "multimodal_real_decode",
    "user_event_gaps",
    "bigram_fluency",
    "ngram_dup_counts",
    "pii_redaction",
    "quality_filter",
    "rolling_range_window",
    "stream_dedup_drain",
    "stream_user_stats",
    "pmi_collocations",
    "vocab_coverage",
    "events_stream_sliding",
    # round-3b additions
    "semantic_dedup",
    "sq8_search",
    "segment_dedup",
    "tfidf_terms",
    "char_entropy",
    "lang_mismatch",
    "zipf_fit",
    "source_rollup",
    "weighted_sample",
    "psi_drift",
    "ivf_sq8_search",
    "pagerank_users",
    "window_rank_stats",
    "events_stream_session",
    "correlated_subquery",
    "exists_subquery",
    "cross_source_overlap",
    "cluster_label_purity",
    # round-3 tail
    "bloom_decontaminate",
    "triangle_count",
    "scd2_intervals",
    "heavy_hitter_tokens",
    "bpe_merges",
    "bpe_encode_stats",
    "equidepth_histogram",
    "profile_table",
    "embedding_standardize",
    "stream_stream_join",
    "leakage_free_split",
    "hybrid_rrf_search",
    "ann_recall_audit",
    # round-4 additions
    "stats_moments",
    "bitwise_aggs",
    "mode_per_group",
    "filtered_aggs",
    "skyline_orders",
    "sequence_gaps",
    "time_decay_revenue",
    "string_functions2",
    "date_functions",
    "array_functions",
    "regexp_extract_numbers",
    "binary_hamming_search",
    "matryoshka_search",
    "knn_classify",
    "minhash_precision_audit",
    "label_propagation",
    "bfs_hops",
    "kcore_peel",
    "canonical_best_quality",
    "blocklist_filter",
    "readability_scores",
    "inverted_postings",
    "rolling_zscore",
    "quantile_normalize",
    "stream_late_drop",
    "parquet_schema_merge",
    "window_first_last",
    "range_interval_window",
    "sha_checksums",
    "string_agg_ordered",
    "hll_rollup_audit",
    "percentile_disc",
    "url_stats",
    "harmonic_geo_means",
    # round-5 additions
    "bucketed_join",
    "incremental_dedup",
    # real operators with no timing history (VERDICT r06 task 7)
    "merge_upsert",
    "funnel_conversion",
    "cogroup_user_orders",
    "stream_etl_ingest",
    "kmeans_centroids",
    "ann_kmeans_search",
    "embedding_neardup",
    # round-6 additions
    "incremental_components",
    "ann_persisted_search",
    "compaction_roundtrip",
    "ann_index_insert",
    "interval_overlap_join",
    "dq_checks",
    "trend_per_group",
    "winsorize_stats",
    "stream_dedup_vs_index",
    "bm25_persisted_search",
    "incremental_rollup",
    # round-7 additions: multi-generation maintenance chains
    "incremental_rollup_chain",
    "incremental_components_chain",
    "incremental_rollup_partitioned",
    "stream_dedup_chain",
    "ann_index_compact",
    # round-7 serve-only rows (VERDICT r06 task 8): each builds its
    # persisted index ONCE (session cache) on the first of the
    # best-of-N runs; min() therefore reports the pure serve/refresh
    # latency — the amortization claim, cashed out as a number
    "dedup_serve_only",
    "components_serve_only",
    "ann_serve_only",
    "bm25_serve_only",
    "rollup_serve_only",
    # round-8 additions: index DELETE/retract (the lifecycle's missing
    # quarter), BM25 insert, view-routed atomic generation swap
    "dedup_index_delete",
    "components_index_delete",
    "ann_index_delete",
    "rollup_retract",
    "bm25_index_delete",
    "bm25_index_insert",
    "rollup_swap_atomic",
    "rollup_timetravel",
    "stream_rollup_chain",
    "ann_index_retrain",
    "rollup_histogram_chain",
    "tpch_refresh_maintenance",
    # round-9 additions: index retention/time-travel, histogram
    # clamp-signal + rebin, NULL-slice retraction
    "dedup_index_timetravel",
    "rollup_histogram_rebin",
    "rollup_retract_nulls",
    "rollup_generation_diff",
    "bm25_index_timetravel",
    "components_label_diff",
    "ann_index_timetravel",
    # round-10 additions: manifest-planned scans/refreshes, the
    # files-per-bucket compaction signal, schema evolution
    "rollup_manifest_refresh",
    "manifest_pruned_scan",
    "index_compaction_signal",
    "rollup_schema_evolution",
    "stream_manifest_chain",
    # round-10 continuation: CDF apply, bloom point lookup, cross-
    # state takedown, the two-writer race, substring-span dedup
    "cdf_apply_roundtrip",
    "manifest_bloom_lookup",
    "takedown_cascade",
    "swap_contention",
    "substring_dup_spans",
    "export_shards",
    "rollup_timetravel_asof",
    "incremental_substring_spans",
    "stream_substring_chain",
    # round-11 additions: the deduplicated corpus (span removal +
    # audit intervals + ingest-time cut), AS-OF over default stamps,
    # the streaming CDF mirror
    "substring_span_removal",
    "substring_span_removal_raw",
    "dup_span_intervals",
    "incremental_span_removal",
    "clean_corpus_export",
    "asof_unstamped_default",
    "stream_cdf_apply_chain",
    # round-12 additions: tokenizer-independent span removal,
    # object-store commit CAS
    "substring_span_removal_chars",
    "swap_contention_objectstore",
    "takedown_clean_corpus_export",
    "decontaminate_spans",
    "repeated_span_removal",
    # round-13 additions: the composed one-shingle-pass corpus build
    # and the BPE instantiation of the span cut
    "clean_corpus_onepass",
    "substring_span_removal_bpe",
    "incremental_clean_corpus",
    "stream_clean_corpus_chain",
    "clean_corpus_raw_onepass",
]

# quiet-box sentinel nominal (BASELINE.md: ~0.14 s, epochs 0.108–0.22
# recorded) and the contention threshold above which a snapshot must
# not silently become a cross-round diff base (VERDICT r10 task 6:
# the r10 driver headline froze a 0.2403-sentinel epoch with two
# iterative queries at 3-6x their quiet numbers)
QUIET_SENTINEL_SEC = 0.14
CONTENDED_FACTOR = 1.3


def contention_sentinel(reps: int = 3) -> float:
    """Fixed SINGLE-THREAD microbenchmark recorded in every snapshot
    (VERDICT r09 task 5): the box is multi-tenant and BASELINE.md
    documents multi-second contention bursts; the r09 extras freeze
    shipped a graph-family tail 2-3x its own same-round numbers with
    zero code change in between.  This is a deterministic pure-Python
    loop (GIL-bound — no BLAS threads, no IO), so its min-of-reps
    time moves ONLY with host contention: a snapshot whose sentinel
    is well above the quiet-box nominal (~0.2 s, recorded alongside
    in BASELINE.md) self-identifies as contended and should not be
    trusted for cross-round regression diffs."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += (i * i) & 1023
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


class SentinelSeries:
    """Between-query probe series, the ONE contention signal: a
    single-rep ``contention_sentinel`` taken after every timed query,
    when the noop action has returned and caches are released, so
    Spark is idle and starves the probe of nothing (~0.14 s a sample
    on a quiet box, outside every timed region).  It sees both
    classes of interference: vCPU descheduling and host-level slow
    epochs, where a single-thread loop ran 2.7× slow on an idle guest
    with near-zero steal.  Replayed over the 11 committed records that
    also carried a steal sampler and edge probes, this series alone
    reproduces every ``contended`` tag (tests/test_bench_contention.py);
    the other two never decided a tag on their own."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []

    def take(self) -> None:
        self.samples.append((time.time(), contention_sentinel(reps=1)))

    def stats(self, t0: float, t1: float) -> dict | None:
        durs = sorted(d for t, d in self.samples if t0 <= t <= t1)
        if not durs:
            return None
        n = len(durs)
        thresh = CONTENDED_FACTOR * QUIET_SENTINEL_SEC
        return {
            "n": n,
            "p50": round(durs[n // 2], 4),
            "p95": round(durs[min(n - 1, int(0.95 * n))], 4),
            "max": round(durs[-1], 4),
            "frac_contended": round(
                sum(1 for d in durs if d > thresh) / n, 3),
        }


def _series_contended(stats: dict | None) -> bool:
    """More than a quarter of the window's probes above the contended
    threshold = the window spent real time degraded.  A single probe
    is noisy, so one hot sample must not tag a run; an empty window
    never does."""
    return bool(stats) and stats["frac_contended"] > 0.25


def _env_int(var: str, default: int) -> int:
    """``max(1, int($var))``, ``default`` when unset; a value that is
    not an integer stops the run instead of being silently replaced."""
    try:
        return max(1, int(os.environ.get(var, str(default))))
    except ValueError as e:
        raise SystemExit(f"{var} must be an integer: {e}")


def time_query(spark, name: str, sf_dir: str) -> float:
    """Seconds for one run of registry query ``name`` forced through
    the noop sink.  The registry's cache-release preamble is bypassed
    (``__wrapped__``): within a query's best-of-N, repeats may reuse
    persisted subtrees (Spark's CacheManager matches canonicalized
    plans), matching the r01 baseline methodology.  Callers choose
    where ``release_caches()`` runs."""
    from legate_dataframe_spark.plans.registry import QUERIES

    fn = QUERIES[name].__wrapped__
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _run_tags() -> dict:
    """Round/commit provenance for every persisted bench record
    (VERDICT r08 task 6: BENCH_EXTRAS_HISTORY.jsonl lines carried
    identical keys, so cross-round regression diffs relied on line
    order).  ``round`` comes from $SPARK_GRAFT_ROUND when the driver
    sets it, else is inferred as 1 + the highest committed
    BENCH_r{N}.json — correct whenever round N runs with snapshots
    up to N−1 present, which is the driver's cadence."""
    import datetime
    import glob as _glob
    import re as _re
    import subprocess

    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        seen = [int(m.group(1)) for p in _glob.glob(
            os.path.join(HERE, "BENCH_r*.json"))
            if (m := _re.search(r"BENCH_r(\d+)\.json$", p))]
        rnd = str(max(seen, default=0) + 1)
    try:
        commit = subprocess.run(
            ["git", "-C", HERE, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        commit = None
    return {"round": int(rnd) if rnd.isdigit() else rnd,
            "commit": commit,
            "ts_utc": datetime.datetime.now(
                datetime.timezone.utc).isoformat(timespec="seconds")}


def join_throughput_gibs(spark, nrows: int = 1 << 24, nruns: int = 3) -> float:
    """Inner-join GiB/s, mirroring the reference harness
    (python/benchmarks/join.py:106-176): two tables of nrows × (key,
    data) float64, keys a permutation of [0, nrows) on each side
    (unique-factor 1.0), metric = (input bytes + output bytes) /
    wall-clock.  Keys here are modular permutations (id*P mod nrows, P
    odd, nrows a power of two → bijective) so generation is fully
    distributed and the output size is exactly nrows — same shape as
    the reference's argsort(random) permutation without a driver-side
    materialization.

    Default 2^24 rows (1 GiB through the join): at 2^20 the metric is
    fixed-overhead-bound (~0.05 GiB/s regardless of engine work) and
    meaningless as a throughput — BASELINE.md records ~0.13 GiB/s at
    2^24 where the shuffle actually dominates.
    """
    from pyspark.sql import functions as F

    def table(name: str, mult: int):
        return (spark.range(0, nrows)
                .select(((F.col("id") * mult) % nrows)
                        .cast("double").alias(f"{name}_key"),
                        F.col("id").cast("double").alias(f"{name}_data")))

    ncols, itemsize = 4, 8
    nbytes = 2 * nrows * ncols * itemsize  # input (2 tables × 2 cols) + output (4 cols) × nrows
    times = []
    for i in range(nruns + 1):  # first run = warm-up
        lhs, rhs = table("lhs", 1664525 % nrows | 1), table("rhs", 22695477 % nrows | 1)
        t0 = time.perf_counter()
        # shuffle_hash = the reference's algorithm (hash join only,
        # cpp/src/join.cpp:214-227) and ~3× faster than sort-merge here;
        # the engine default stays SMJ+AQE for spill robustness.
        (lhs.hint("shuffle_hash").join(rhs, lhs.lhs_key == rhs.rhs_key, "inner")
         .write.format("noop").mode("overwrite").save())
        if i > 0:
            times.append(time.perf_counter() - t0)
    # best-of-N (min time), same policy as the query suite: the box
    # runs alongside other tenants with multi-second contention bursts;
    # min isolates intrinsic engine cost.
    return round(nbytes / min(times) / 2**30, 3)


def _last_quiet_ledger() -> dict | None:
    """Most recent NON-contended full-ledger row in the committed
    history — what a contended ledger freeze must point at as its
    diff base (VERDICT r11 task 1: refuse-and-retag needs a
    companion, or a round ships with no usable base)."""
    hist = os.path.join(HERE, "BENCH_EXTRAS_HISTORY.jsonl")
    best = None
    try:
        with open(hist) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if (rec.get("metric") == "all_queries_seconds_single_run"
                        and not rec.get("contended")):
                    best = rec
    except OSError:
        return None
    if best is None:
        return None
    return {k: best.get(k) for k in
            ("round", "commit", "ts_utc", "sentinel_sec")}


def _start(app_name: str):
    """(spark, sf_dir, sf, cpus) for a run configured by
    $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS; ``sf`` is the scale
    factor parsed from the directory name (the raw suffix when it is
    not a number)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf: float | str = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    sys.path.insert(0, HERE)
    from legate_dataframe_spark.session import get_session

    spark = get_session(app_name=app_name, master=f"local[{cpus}]")
    return spark, sf_dir, sf, cpus


def run_all() -> None:
    """Coverage ledger (VERDICT r07 task 7): time EVERY registry entry
    once — single run, no warm-up amortization, no best-of-N — so no
    entry has zero timing history.  This is a ledger, not a
    benchmark: one run under host noise bounds the cost to within
    ~2×, which is enough to spot a pathological operator.

    Contention refusal (VERDICT r11 task 1): a pass whose probe series
    reads contended RE-RUNS (up to $SPARK_GRAFT_LEDGER_ATTEMPTS,
    default 3), keeping the first quiet pass; if every attempt is
    contended the record tags itself AND carries the last quiet ledger
    forward explicitly (``diff_base``), so cross-round diffs always
    have a usable base by construction, not by the reader's
    archaeology.  Output: BENCH_ALL.json (committed) + a line in
    BENCH_EXTRAS_HISTORY.jsonl."""
    attempts = _env_int("SPARK_GRAFT_LEDGER_ATTEMPTS", 3)
    spark, sf_dir, sf, _ = _start("ldf-bench-all")
    from legate_dataframe_spark.core.caching import release_caches
    from legate_dataframe_spark.plans.registry import QUERIES

    series = SentinelSeries()

    def ledger_pass() -> tuple[dict[str, float], dict | None]:
        t_start = time.time()
        times: dict[str, float] = {}
        for i, name in enumerate(sorted(QUERIES)):
            try:
                times[name] = round(time_query(spark, name, sf_dir), 3)
            except Exception as e:  # record, don't abort the ledger
                times[name] = -1.0
                print(f"ERR {name}: {type(e).__name__}: {e}",
                      file=sys.stderr, flush=True)
            release_caches()
            series.take()
            print(f"[{i + 1}/{len(QUERIES)}] {name} {times[name]}",
                  file=sys.stderr, flush=True)
        return times, series.stats(t_start, time.time())

    attempt_sentinels: list[float] = []
    for attempt in range(attempts):
        times, ser = ledger_pass()
        attempt_sentinels.append(contention_sentinel())
        contended = _series_contended(ser)
        if not contended:
            break
        print(f"ledger pass {attempt + 1}/{attempts} contended "
              f"(series {ser}); "
              + ("re-running" if attempt + 1 < attempts
                 else "giving up — tagging and carrying the last "
                      "quiet ledger forward"),
              file=sys.stderr, flush=True)
    record = {"metric": "all_queries_seconds_single_run", "unit": "sec",
              "sf": sf, "queries": times,
              "sentinel_sec": attempt_sentinels[-1],
              "sentinel_quiet_nominal": QUIET_SENTINEL_SEC,
              "sentinel_series": ser,
              "attempt_sentinels": attempt_sentinels,
              "registry_count": len(QUERIES),
              "contended": contended,
              **_run_tags()}
    if contended:
        record["diff_base"] = _last_quiet_ledger()
    with open(os.path.join(HERE, "BENCH_ALL.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    with open(os.path.join(HERE, "BENCH_EXTRAS_HISTORY.jsonl"),
              "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps(record))


def main() -> None:
    # best-of-3: the box is multi-tenant with multi-second contention
    # bursts (observed 10× swings on trivial queries); min isolates
    # intrinsic cost.  SPARK_GRAFT_BENCH_RUNS overrides for long scale
    # probes (10× data × best-of-3 × a growing extras list won't fit a
    # bounded window at runs=3).
    nruns = _env_int("SPARK_GRAFT_BENCH_RUNS", 3)
    spark, sf_dir, sf, cpus = _start("ldf-bench")
    from legate_dataframe_spark.core.caching import release_caches

    # warm up the JVM / parquet readers / codegen on the smallest query
    time_query(spark, "sort_topk", sf_dir)

    series = SentinelSeries()

    def suite(names: list[str], runs: int) -> dict[str, float]:
        # release_caches() runs between QUERIES so nothing accumulates
        # across the suite; the probe sample lands outside every timing
        out = {}
        for name in names:
            out[name] = round(min(time_query(spark, name, sf_dir)
                                  for _ in range(runs)), 3)
            release_caches()
            series.take()
        return out

    t_head0 = time.time()
    times = suite(HEADLINE, nruns)

    # contention hygiene (VERDICT r10 task 6): if the box was
    # contended during the headline pass, auto-rerun the headline
    # once more (min folds in — a quiet rerun replaces inflated
    # rows; a still-contended rerun changes nothing and the snapshot
    # gets TAGGED so cross-round diffs exclude it by code, not by
    # hand)
    head_series = series.stats(t_head0, time.time())
    contended_rerun = _series_contended(head_series)
    if contended_rerun:
        print(f"contended headline pass (series {head_series}); "
              f"re-running headline once",
              file=sys.stderr, flush=True)
        rerun = suite(HEADLINE, 1)
        times = {name: min(t, rerun[name]) for name, t in times.items()}
        head_series = series.stats(t_head0, time.time())

    # round-2 additions, reported separately so the headline total stays
    # comparable against BASELINE.md's 21-query suite
    t_extra0 = time.time()
    extra = suite(EXTRA, nruns)
    extras_series = series.stats(t_extra0, time.time())

    total = round(sum(times.values()), 3)
    # The extras list has grown past the driver's stdout tail-capture
    # window (r04's single inline line lost two rounds of extras
    # history — VERDICT r05 "What's missing" #1).  Durable record: the
    # per-extra timings go to a committed side FILE; stdout still gets
    # the extras line (long, best-effort) followed by the compact
    # headline object as the FINAL line the driver parses.
    extras_out = os.environ.get("SPARK_GRAFT_EXTRAS_OUT",
                                os.path.join(HERE, "BENCH_EXTRAS.json"))
    extras_record = {"metric": "extra_queries_seconds", "unit": "sec",
                     "sf": sf,
                     "queries": extra,
                     "sentinel_sec": contention_sentinel(),
                     "sentinel_quiet_nominal": QUIET_SENTINEL_SEC,
                     "sentinel_series": extras_series,
                     "contended": _series_contended(extras_series),
                     **_run_tags()}
    with open(extras_out, "w") as fh:
        json.dump(extras_record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # ADVICE r06: BENCH_EXTRAS.json is overwritten per run, so
    # cross-round extras history only survived via git archaeology.
    # Append every run to a committed JSONL so history is durable
    # even if a round forgets to commit the snapshot.
    with open(os.path.join(HERE, "BENCH_EXTRAS_HISTORY.jsonl"),
              "a") as fh:
        fh.write(json.dumps(extras_record, sort_keys=True) + "\n")
    print(json.dumps({"metric": "extra_queries_seconds",
                      "unit": "sec", "queries": extra}))
    final_sentinel = contention_sentinel()
    join_gibs = join_throughput_gibs(spark)
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        # reference harness metric shape (join.py:158-166): inner-join
        # throughput over 2×2^24-row float64 tables, unique keys.
        "join_gibs": join_gibs,
        "sentinel_sec": final_sentinel,
        "sentinel_quiet_nominal": QUIET_SENTINEL_SEC,
        "sentinel_series_headline": head_series,
        "sentinel_series_extras": extras_series,
        "contended_rerun": contended_rerun,
        # a contended snapshot self-EXCLUDES from cross-round diff
        # bases (the BASELINE.md cross-epoch rule, applied by code)
        "contended": _series_contended(head_series),
    }))


if __name__ == "__main__":
    if "--all" in sys.argv[1:]:
        run_all()
    else:
        main()
