"""Round-6 driver queries (VERDICT r05 "Next round" tasks 6–8).

Three production-shape capabilities, each with a DuckDB oracle:

- ``incremental_components`` — the cluster-assignment twin of r05's
  ``incremental_dedup``: merge a daily batch's near-dup edges into a
  persisted, bucketed component-label table without recomputing
  components over the full corpus (pipeline/components.py
  ``build_components_index`` / ``incremental_components_update``).
- ``ann_persisted_search`` — the search-side twin: serve IVF ANN off
  a bucketBy-persisted catalog index (centroids + assignments)
  without re-training/re-assigning in-query
  (pipeline/similarity.py ``build_ivf_index`` /
  ``ivf_search_persisted``).
- ``compaction_roundtrip`` — driver row for the last sink-only
  surface, ``sources/parquet.py::compact_parquet_dir``: fragment a
  table on purpose, compact it, prove the read-back aggregate is
  lossless and the file count actually shrank.

Catalog hygiene follows round5.py: uuid-suffixed session-temp
databases, dropped (CASCADE) with their tempdir before returning,
results materialized eagerly so no lazy /tmp dependency escapes.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.pipeline_queries import (
    _BANDS,
    _NUM_HASHES,
    DEDUP_CLUSTERS_SQL,
)
from legate_dataframe_spark.plans.relational import load_table
from legate_dataframe_spark.plans.round10b import _plan_of, _temp_db


# =================================================== incremental components
def incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dup-CLUSTER maintenance against persisted state —
    closes the gap VERDICT r05 named after incremental_dedup landed:
    a daily batch no longer needs full-corpus ``dedup_clusters`` to
    get cluster ids.

    Split (same as incremental_dedup): doc_id % 10 != 0 is the
    standing corpus, the rest today's batch.  Build phase (paid once
    in production): corpus minhash index + corpus component labels
    bucketed on node.  Batch phase: cross pairs from the persisted
    minhash index, batch-internal pairs from batch-only LSH, then
    ``incremental_components_update`` merges them into the label
    table touching only batch edges and collided clusters.

    The oracle is batch-over-union equivalence stated maximally: the
    output must equal a FULL-corpus components recompute over all
    documents' near-dup pairs (DEDUP_CLUSTERS_SQL verbatim).

    In-query plan assertion (round5.py's pattern): the label-table
    anti-join must read its co-located buckets (``Bucketed: true``) —
    at 100 TB the corpus-sized label table never shuffles; only the
    contracted batch-side graph moves.
    """
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
        incremental_components_update,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    with _temp_db(spark, "ldf_r6_comp") as db:
        # ---- build phase (amortized at scale; in-query for the gate).
        # Corpus pairs come OFF the just-built index (the band-table
        # self-join runs on its own bucket key — zero Exchange), so
        # the corpus is tokenized/minhashed exactly once.
        dedup.build_minhash_index(spark, corpus, f"{db}.corpus",
                                  num_hashes=_NUM_HASHES, bands=_BANDS)
        corpus_pairs = dedup.minhash_pairs_from_index(
            spark, f"{db}.corpus",
            jaccard_threshold=0.5).select("id_a", "id_b")
        build_components_index(spark, corpus_pairs, f"{db}.labels")
        # ---- batch phase
        cross = (dedup.incremental_minhash_dedup(
            spark, batch, f"{db}.corpus", num_hashes=_NUM_HASHES,
            bands=_BANDS, jaccard_threshold=0.5)
            .select("corpus_id", "batch_id"))
        bpairs = dedup.minhash_lsh_pairs(
            batch, num_hashes=_NUM_HASHES, bands=_BANDS,
            jaccard_threshold=0.5).select("id_a", "id_b")
        out = incremental_components_update(spark, f"{db}.labels",
                                            cross, bpairs)
        plan = _plan_of(out, "formatted")
        if "Bucketed: true" not in plan:
            raise AssertionError(
                "incremental components did not read the label table "
                f"bucket-aware:\n{plan}")
        return (out.select(F.col("node").alias("doc_id"),
                           F.col("component").alias("canonical_id"))
                .localCheckpoint(eager=True))


# the maximal statement of correctness: incremental maintenance must
# reproduce the full-corpus recompute bit-for-bit
INCREMENTAL_COMPONENTS_SQL = DEDUP_CLUSTERS_SQL


# ===================================================== persisted ANN index
def ann_persisted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served off a PERSISTED catalog index — the production
    serving shape (VERDICT r05 task 7: every in-query ANN entry
    rebuilds its index per run).  Build phase (paid once): assign the
    corpus to the 8 fixed centroids and bucketBy-persist assignments
    on centroid_id + the centroid table.  Serve phase: probe the 2
    nearest centroids per query and exact-rerank inside the probed
    clusters, reading the assignment table's co-located buckets.

    Broadcast is disabled (and restored) around the serve so the
    probe join plans the same bucket-aware SMJ at gate scale as at
    100 TB, and the plan assertion pins it: the assignment scan must
    be ``Bucketed: true`` with no corpus-side Exchange (the corpus is
    neither re-assigned nor re-shuffled at search time; only the tiny
    probe side moves).  With broadcast left on, AQE ships the probe
    side instead — also zero corpus shuffle, so production keeps AQE.

    Values are identical to the in-query ``ann_ivf_search`` over the
    same fixed centroids — persisting through parquet is lossless —
    so the oracle is that query's SQL verbatim.
    """
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        ivf_search_persisted,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # fixed query sample — see pipeline_queries._ANN_QUERY_ID_CAP
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))

    with _temp_db(spark, "ldf_r6_ann") as db:
        build_ivf_index(spark, e, cen, f"{db}.ivf")
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = ivf_search_persisted(spark, q, f"{db}.ivf",
                                       k=5, n_probe=2)
            plan = _plan_of(out, "formatted")
            if "Bucketed: true" not in plan:
                raise AssertionError(
                    "persisted ANN search did not read the assignment "
                    f"table bucket-aware:\n{plan}")
            return out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def _ann_persisted_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import (
        ANN_IVF_SEARCH_SQL,
    )

    return ANN_IVF_SEARCH_SQL


ANN_PERSISTED_SEARCH_SQL = _ann_persisted_sql()


# ====================================================== parquet compaction
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for ``compact_parquet_dir`` (the last sink-only
    surface, VERDICT r05 task 8): write events deliberately
    fragmented (64 files), compact to ~256 MB targets (→ far fewer
    files at gate scale), read back and aggregate.  The query asserts
    the compaction actually reduced the file count; the oracle runs
    the same aggregate over the ORIGINAL events view, so a green row
    proves the rewrite is lossless.

    The value sum is integerized per row (Σ round(value·1e6) as
    BIGINT) — per-row rounding is engine-deterministic and integer
    sums are order-invariant, so the hash can't flap on summation
    order (knn_classify's r05 lesson applied at birth instead of
    after a red).
    """
    from legate_dataframe_spark.sources.parquet import compact_parquet_dir

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="ldf_r6_compact_")
    src = os.path.join(tmp, "frag")
    dst = os.path.join(tmp, "compact")
    try:
        ev.repartition(64).write.parquet(src)
        n_src = len([f for f in glob.glob(os.path.join(src, "part-*"))
                     if os.path.isfile(f)])
        n_out = compact_parquet_dir(spark, src, dst, target_mb=256,
                                    cluster_by=["ts"])
        if n_out >= n_src:
            raise AssertionError(
                f"compaction did not reduce file count: {n_src} → {n_out}")
        back = spark.read.parquet(dst)
        out = (back.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 1e6).cast("long"))
                    .alias("value_micro_sum"),
                    F.min("event_id").alias("min_event"),
                    F.max("event_id").alias("max_event"),
                    F.max("ts").alias("max_ts"))
               .localCheckpoint(eager=True))
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


COMPACTION_ROUNDTRIP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
         AS value_micro_sum,
       min(event_id) AS min_event,
       max(event_id) AS max_event,
       max(ts) AS max_ts
FROM events
GROUP BY event_type
"""


# ============================================== incremental ANN index insert
def ann_index_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index LIFECYCLE: build on the standing corpus, INSERT a new
    vector batch (assigned against the persisted centroids, appended
    into the bucketed assignment table — Spark buckets the appended
    files under the same hash spec, so probe joins stay co-located),
    then serve a search off the updated index.  The standing corpus is
    never re-assigned; per-batch cost is O(batch).

    Oracle: the post-insert index covers corpus ∪ batch = ALL
    embeddings, so the search must equal the in-query IVF search over
    the full table (ANN_IVF_SEARCH_SQL verbatim) — batch-over-union
    equivalence, same statement shape as incremental_dedup's.
    """
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        insert_into_ivf_index,
        ivf_search_persisted,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # fixed query sample — see pipeline_queries._ANN_QUERY_ID_CAP
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))

    with _temp_db(spark, "ldf_r6_annins") as db:
        build_ivf_index(spark, corpus, cen, f"{db}.ivf")
        insert_into_ivf_index(spark, batch, f"{db}.ivf")
        out = ivf_search_persisted(spark, q, f"{db}.ivf", k=5, n_probe=2)
        return out.localCheckpoint(eager=True)


def _ann_index_insert_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import (
        ANN_IVF_SEARCH_SQL,
    )

    return ANN_IVF_SEARCH_SQL


ANN_INDEX_INSERT_SQL = _ann_index_insert_sql()


# ===================================================== interval overlap join
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: pairs of SAME-customer orders whose fulfillment
    intervals [o_orderdate, max l_shipdate] overlap, with overlap
    length in days — the interval-overlap join Spark has no native
    operator for (DuckDB plans it as IEJoin).

    Scale shape (rewritten after the r08 10× probe): the original
    symmetric form exploded BOTH sides into every month their
    intervals span and self-joined on (customer, month) — correct,
    but with intervals averaging ~8 months the bin fan-out squares:
    1.29 BILLION candidates at 10× data for a 51M-pair answer (the
    naive customer-only join would have produced 74M).  The robust
    production shape is the ASYMMETRIC point-in-interval bin join:
    two intervals overlap iff the LATER start falls inside the other
    interval, so one side carries each interval ONCE, keyed by its
    start month (a point), and only the probe side explodes into its
    covered months.  Candidates per (customer, month) bin are then
    starts(k) × covers(k) instead of covers(k)² — ~55M at 10×, ~1.1×
    the answer itself — and each overlapping pair is found EXACTLY
    once (at the later start's month, inside the earlier interval's
    covered bins), so no distinct shuffle exists in the plan.  The
    later-start tie-break (start, key) keeps self-pairs and double
    counting out.  At 100 TB the bin key space grows with customers ×
    months — no hot key, no cartesian anywhere (the plan-quality
    sweep asserts none)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (li.groupBy(F.col("l_orderkey"))
          .agg(F.max(F.to_date("l_shipdate")).alias("end_d"))
          .join(o.select("o_orderkey", "o_custkey",
                         F.to_date("o_orderdate").alias("start_d")),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .select("o_orderkey", "o_custkey", "start_d", "end_d"))
    lo, hi = F.least("start_d", "end_d"), F.greatest("start_d", "end_d")
    # both sides derive from this frame — persist so the lineitem
    # groupBy + orders join + explode runs ONCE (Spark has no
    # cross-branch CSE; components.py's lesson applied here)
    from legate_dataframe_spark.core.caching import tracked_persist

    covers = tracked_persist(iv.withColumn(
        "m", F.explode(F.sequence(F.trunc(lo, "month"),
                                  F.trunc(hi, "month"),
                                  F.expr("interval 1 month")))))
    # the point side: each interval once, at its start month — a
    # filter of the persisted frame, not a recompute
    starts = covers.filter(
        F.col("m") == F.trunc(F.col("start_d"), "month"))
    s, c = starts.alias("s"), covers.alias("c")
    later = (  # s is the strictly-later start (key tiebreak on ties)
        (F.col("c.start_d") < F.col("s.start_d"))
        | ((F.col("c.start_d") == F.col("s.start_d"))
           & (F.col("c.o_orderkey") < F.col("s.o_orderkey"))))
    overlap = (F.datediff(F.least(F.col("s.end_d"), F.col("c.end_d")),
                          F.col("s.start_d")) + 1).cast("long")
    return (s.join(c, (F.col("s.o_custkey") == F.col("c.o_custkey"))
                   & (F.col("s.m") == F.col("c.m"))
                   & later
                   # both raw-endpoint checks stay explicit: c.start ≤
                   # s.start ≤ s.end would imply the second, but only
                   # for non-INVERTED intervals (the data has orders
                   # whose max shipdate precedes the orderdate)
                   & (F.col("s.start_d") <= F.col("c.end_d"))
                   & (F.col("c.start_d") <= F.col("s.end_d")))
            .select(F.least(F.col("s.o_orderkey"), F.col("c.o_orderkey"))
                    .alias("key_a"),
                    F.greatest(F.col("s.o_orderkey"),
                               F.col("c.o_orderkey")).alias("key_b"),
                    overlap.alias("overlap_days")))


INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_orderdate AS DATE) AS start_d,
         max(CAST(l_shipdate AS DATE)) AS end_d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2, 3)
SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
       CAST(datediff('day', greatest(a.start_d, b.start_d),
                     least(a.end_d, b.end_d)) + 1 AS BIGINT)
         AS overlap_days
FROM iv a JOIN iv b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.start_d <= b.end_d AND b.start_d <= a.end_d
"""


# ======================================================= data-quality checks
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule rollup (the expectations pass a
    warehouse runs before publishing a table): null / range /
    duplicate-key rules fuse into ONE conditional-aggregate scan per
    table; referential-integrity and cross-column rules are one
    anti-join resp. one equi-join.  Output: (rule, violations, pass)
    — the 1-row per-table aggregates cross-join (broadcast, 1×1) and
    unpivot via stack, so nothing scans twice."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    o_aggs = o.agg(
        one(F.col("o_totalprice") <= 0).alias("v_price_nonpos"),
        one(F.col("o_custkey").isNull()).alias("v_null_cust"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .alias("v_dup_orderkey"))
    li_aggs = li.agg(
        one((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5))
        .alias("v_discount_range"),
        one(F.col("l_quantity") <= 0).alias("v_qty_nonpos"))
    orphan = (li.join(o.select("o_orderkey"),
                      li.l_orderkey == F.col("o_orderkey"), "left_anti")
              .agg(F.count(F.lit(1)).alias("v_orphan_lineitem")))
    ship_before = (li.join(o, li.l_orderkey == o.o_orderkey)
                   .agg(one(F.col("l_shipdate") < F.col("o_orderdate"))
                        .alias("v_ship_before_order")))
    combined = (o_aggs.join(F.broadcast(li_aggs))
                .join(F.broadcast(orphan))
                .join(F.broadcast(ship_before)))
    rules = ["orders.totalprice_nonpositive", "orders.null_custkey",
             "orders.duplicate_orderkey", "lineitem.discount_out_of_range",
             "lineitem.quantity_nonpositive", "lineitem.orphan_orderkey",
             "lineitem.ship_before_orderdate"]
    cols = ["v_price_nonpos", "v_null_cust", "v_dup_orderkey",
            "v_discount_range", "v_qty_nonpos", "v_orphan_lineitem",
            "v_ship_before_order"]
    stack_args = ", ".join(f"'{r}', {c}" for r, c in zip(rules, cols))
    return (combined.select(
        F.expr(f"stack({len(rules)}, {stack_args}) AS (rule, violations)"))
        .select("rule", F.col("violations").cast("long").alias("violations"),
                (F.col("violations") == 0).alias("pass")))


DQ_CHECKS_SQL = """
WITH v AS (
  SELECT 'orders.totalprice_nonpositive' AS rule,
         (SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS violations
  UNION ALL SELECT 'orders.null_custkey',
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL SELECT 'orders.duplicate_orderkey',
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL SELECT 'lineitem.discount_out_of_range',
         (SELECT count(*) FROM lineitem
          WHERE l_discount < 0 OR l_discount > 0.5)
  UNION ALL SELECT 'lineitem.quantity_nonpositive',
         (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
  UNION ALL SELECT 'lineitem.orphan_orderkey',
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
  UNION ALL SELECT 'lineitem.ship_before_orderdate',
         (SELECT count(*) FROM lineitem JOIN orders
            ON l_orderkey = o_orderkey
          WHERE l_shipdate < o_orderdate))
SELECT rule, CAST(violations AS BIGINT) AS violations,
       violations = 0 AS pass
FROM v
"""


# ==================================================== per-group trend (OLS)
def trend_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS slope of event value over time (closed-form
    least squares from sufficient statistics — one partial-aggregable
    groupBy, no per-group iteration):

      slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    x = GROUP-RELATIVE day index (x − min(x) within the user, exact
    int — slope is translation-invariant so values are unchanged),
    y = value in micro-units (per-row round, exact BIGINT) — so all
    five sufficient statistics are order-invariant integer sums and
    the single closing division is deterministic in any engine (no
    float-sum flap window by construction).  Groups with a degenerate
    x-variance (all events one day) drop out.

    int64 headroom (VERDICT r06 "What's wrong" #2): with an absolute
    day index, ``sum(x*y)`` ≈ n·10³·10⁹ approaches 9.2·10¹⁸ overflow
    at n ≈ 10⁶ rows/group.  Centering bounds x by the user's OWN
    activity span s (days), giving |Σxy| ≤ n·s·10⁹ — a 10⁶-row user
    active for a year stays ~2 orders under the limit, and the bound
    now scales with per-user span instead of dataset age.  The min(x)
    pre-pass costs one extra groupBy, but its output partitioning is
    reused by the join and the final agg (user_id keys both shuffles).
    """
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long").alias("x"),
        F.round(F.col("value") * 1e6).cast("long").alias("y"))
    x0 = raw.groupBy("user_id").agg(F.min("x").alias("x0"))
    base = (raw.join(x0, "user_id")
            .select("user_id", (F.col("x") - F.col("x0")).alias("x"), "y"))
    s = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (s.filter(den != 0)
            .select("user_id", "n",
                    F.round(num.cast("double") / den.cast("double"), 6)
                    .alias("slope_micro_per_day")))


TREND_PER_GROUP_SQL = """
WITH raw AS (
  SELECT user_id,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS x,
         CAST(round(value * 1e6) AS BIGINT) AS y
  FROM events),
base AS (
  -- group-relative day index, matching the engine's int64-headroom
  -- centering (slope is translation-invariant: values unchanged)
  SELECT user_id, x - min(x) OVER (PARTITION BY user_id) AS x, y
  FROM raw),
s AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM base GROUP BY user_id)
SELECT user_id, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6)
         AS slope_micro_per_day
FROM s WHERE n * sxx - sx * sx != 0
"""


# ========================================================== winsorization
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier capping: clamp event values per type into their
    [p05, p95] DISCRETE percentiles, report capped-sum stats.  Both
    thresholds are ACTUAL data values picked by explicit rank
    arithmetic (the k = floor(p·(n−1)) + 1-th smallest value per
    type), stated identically in the oracle — quantile_disc index
    conventions differ between engines, so the pick is pinned rather
    than trusted.  Clamped sums are per-row micro-rounded BIGINTs
    (order-invariant; thresholds are bit-identical data values, so
    clamp decisions can't diverge).

    Scale shape (the r06 design flag, VERDICT r06 "What's wrong" #1:
    the original ``row_number over (partition by event_type order by
    value)`` funneled each type's FULL row set through one window
    task).  The k-th order statistic is now found by COUNTING
    SELECTION instead of a global sort:

    1. one conditional-agg scan → per-type (n, min, max) and the two
       target ranks;
    2. bucket every value into B=4096 equal-width bins (the linear
       map is monotone in IEEE doubles, so bin ids preserve value
       order exactly) and build a per-(type, bin) histogram — one
       map-side-combined groupBy, ≤ B·|types| rows;
    3. a cumulative count over the HISTOGRAM (window input bounded by
       B per type, never by data size) locates the single bin that
       contains each target rank;
    4. rank by value ONLY inside the located bins — the one remaining
       row-level window partitions by (type, target) over ~n/B rows
       (ties across rows carry equal values, so tie order cannot
       change the picked value).

    At 100× each per-type window task holds n/4096 of the type, not
    n — the same single-sort-task avoidance equidepth_histogram
    documents, applied to an exact (not approximate) selection.

    NULL contract (ADVICE r07): NULL values are excluded up front —
    otherwise they bucket to a NULL bin id, get counted in the
    histogram cumsum, and then never join back to their target rank
    (NULL != NULL in the equi-join), silently yielding NULL
    thresholds.  Winsorization over the non-null domain is the
    standard statistical semantics; the oracle states the same
    filter."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    nbins = 4096
    stats = (ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("value").alias("vmin"),
                  F.max("value").alias("vmax")))
    stats = stats.select(
        "event_type", "n", "vmin", "vmax",
        (F.floor(0.05 * (F.col("n") - 1)) + 1).alias("k05"),
        (F.floor(0.95 * (F.col("n") - 1)) + 1).alias("k95"))
    span = F.col("vmax") - F.col("vmin")
    bkt = F.when(span > 0, F.least(
        F.lit(nbins - 1),
        F.floor((F.col("value") - F.col("vmin")) / span * nbins)
        .cast("int"))).otherwise(F.lit(0))
    evb = (ev.select("event_type", "value")
           .join(F.broadcast(stats), "event_type")
           .withColumn("bkt", bkt))
    hist = evb.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("cnt"))
    wh = W.partitionBy("event_type").orderBy("bkt")  # ≤ nbins rows/type
    hist = (hist.withColumn("cum", F.sum("cnt").over(wh))
            .withColumn("cum_before", F.col("cum") - F.col("cnt")))
    loc = hist.join(F.broadcast(stats.select("event_type", "k05", "k95")),
                    "event_type")
    targets = None
    for tgt, k in (("p05", "k05"), ("p95", "k95")):
        t = (loc.filter((F.col("cum_before") < F.col(k))
                        & (F.col(k) <= F.col("cum")))
             .select("event_type", "bkt", F.lit(tgt).alias("tgt"),
                     (F.col(k) - F.col("cum_before")).alias("r")))
        targets = t if targets is None else targets.unionByName(t)
    # row-level window ONLY over the located bins' rows
    wb = W.partitionBy("event_type", "tgt").orderBy("value")
    picked = (evb.join(F.broadcast(targets), ["event_type", "bkt"])
              .withColumn("rn", F.row_number().over(wb))
              .filter(F.col("rn") == F.col("r")))
    th = (picked.groupBy("event_type")
          .agg(F.max(F.when(F.col("tgt") == "p05", F.col("value")))
               .alias("p05"),
               F.max(F.when(F.col("tgt") == "p95", F.col("value")))
               .alias("p95")))
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")),
                      F.col("p95"))
    return (ev.join(F.broadcast(th), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("p05").alias("p05"), F.min("p95").alias("p95"),
                 F.sum(F.round(clamped * 1e6).cast("long"))
                 .alias("winsorized_micro_sum")))


WINSORIZE_SQL = """
WITH nn AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM nn),
th AS (
  SELECT event_type,
         max(CASE WHEN rn = floor(0.05 * (n - 1)) + 1 THEN value END) AS p05,
         max(CASE WHEN rn = floor(0.95 * (n - 1)) + 1 THEN value END) AS p95
  FROM ranked GROUP BY event_type)
SELECT e.event_type, count(*) AS n, min(p05) AS p05, min(p95) AS p95,
       CAST(sum(CAST(round(least(greatest(value, p05), p95) * 1e6)
                     AS BIGINT)) AS BIGINT) AS winsorized_micro_sum
FROM nn e JOIN th USING (event_type)
GROUP BY e.event_type
"""


# ======================================== streaming dedup vs persisted index
def stream_dedup_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production INGEST GATE: a document stream where every
    micro-batch is near-dup-checked against the PERSISTED corpus
    minhash index inside ``foreachBatch`` — streaming machinery and
    the bucketed catalog index composed (r05's incremental_dedup was
    one batch; real pipelines ingest continuously).

    Three staged single-file micro-batches (controlled mtimes +
    maxFilesPerTrigger=1 ⇒ deterministic trigger order, round-4
    rig) partition today's docs by (doc_id/10) % 3; each batch runs
    ``incremental_minhash_dedup`` against the index — only that
    batch's band rows shuffle, into the index's bucket layout; the
    corpus is scanned by NO batch.  The drained union must equal the
    ONE-SHOT incremental dedup of all batch docs (each batch is
    checked against the same immutable index, and LSH band signatures
    are per-doc), so the oracle is INCREMENTAL_DEDUP_SQL verbatim.
    """
    import glob as _glob
    import time as _time

    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )
    from legate_dataframe_spark.plans.round4 import _stage_single_file

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    with _temp_db(spark, "ldf_r6_sdedup") as db:
        build_minhash_index(spark, corpus, f"{db}.corpus")
        stage = tempfile.mkdtemp(prefix="ldf_r6_sdedup_stage_")
        outdir = tempfile.mkdtemp(prefix="ldf_r6_sdedup_out_")
        ck = tempfile.mkdtemp(prefix="ldf_r6_sdedup_ck_")
        try:
            now = _time.time()
            for i in range(3):
                _stage_single_file(
                    batch.filter(F.floor(F.col("doc_id") / 10) % 3 == i),
                    stage, f"b{i}.parquet", now - 300 + i * 100)
            stream = (spark.readStream.schema(batch.schema)
                      .option("maxFilesPerTrigger", 1).parquet(stage))

            def gate(batch_df: DataFrame, batch_id: int) -> None:
                (incremental_minhash_dedup(spark, batch_df, f"{db}.corpus")
                 .write.mode("append").parquet(outdir))

            q = (stream.writeStream.outputMode("append")
                 .foreachBatch(gate)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            finished = q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            if not finished:
                q.stop()
                raise TimeoutError("stream_dedup_vs_index drain > 300s")
            if not _glob.glob(f"{outdir}/*.parquet"):
                return spark.createDataFrame(
                    [], "corpus_id: bigint, batch_id: bigint, jaccard: double")
            return spark.read.parquet(outdir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(outdir, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


def _stream_dedup_vs_index_sql() -> str:
    from legate_dataframe_spark.plans.round5 import INCREMENTAL_DEDUP_SQL

    return INCREMENTAL_DEDUP_SQL


STREAM_DEDUP_VS_INDEX_SQL = _stream_dedup_vs_index_sql()


# ========================================================= persisted BM25
def bm25_persisted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search served off a PERSISTED inverted index — the
    text-retrieval twin of ann_persisted_search, completing the
    round's persisted-index family (minhash / components / IVF /
    BM25).  Build (paid once): full postings (doc, term, tf) bucketed
    on TERM + doc-length table + 1-row stats.  Serve: the query's
    term filter becomes bucket PRUNING — the in-query plan assertion
    pins ``SelectedBucketsCount`` in the postings scan, i.e. Spark
    reads only the buckets that can contain the query terms, not the
    corpus; at 100 TB that is the difference between a keyword search
    costing O(postings of 3 terms) and O(corpus).

    Values are identical to the in-query ``bm25_search`` over the
    same corpus and terms (df is derived from the fetched postings;
    dl/avgdl are exact integer statistics), so the oracle is that
    query's SQL verbatim.
    """
    from legate_dataframe_spark.pipeline.text import (
        build_bm25_index,
        bm25_search_persisted,
    )

    d = load_table(spark, sf_dir, "documents")
    with _temp_db(spark, "ldf_r6_bm25") as db:
        build_bm25_index(spark, d, f"{db}.idx")
        out = bm25_search_persisted(
            spark, ["shuffle", "broadcast", "vector"], f"{db}.idx",
            topk=10)
        plan = _plan_of(out, "formatted")
        if "SelectedBucketsCount" not in plan:
            raise AssertionError(
                "persisted BM25 search did not bucket-prune the "
                f"postings scan:\n{plan}")
        return out.localCheckpoint(eager=True)


def _bm25_persisted_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import BM25_SEARCH_SQL

    return BM25_SEARCH_SQL


BM25_PERSISTED_SEARCH_SQL = _bm25_persisted_sql()


# ================================================== incremental rollup
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance against persisted state —
    the aggregation member of the persisted-index family
    (pipeline/rollup.py).  At 100 TB a dashboard refresh cannot
    re-aggregate the raw event log; the standing state is a bucketed
    rollup of MERGEABLE partials (count / exact micro-BIGINT sum /
    min / max per (day, event_type)) and a batch merges in at
    O(batch + touched groups).

    Split (incremental_dedup's convention): event_id % 10 != 0 is the
    standing corpus, the rest today's batch.  Build phase (paid once
    in production): corpus partials bucketed on the group key.  Merge
    phase: batch partials fold into matched groups, insert otherwise.

    Broadcast is disabled (and restored) around the merge so the plan
    at gate scale is the 100 TB plan, and the in-query assertions pin
    the scale shape: the state table reads its co-located buckets
    (``Bucketed: true``) and the only shuffle Exchanges in the serve
    plan belong to the (already-aggregated, checkpointed) batch side —
    the corpus-sized state never moves.  With AQE broadcast left on,
    Spark ships the tiny batch instead — also zero state shuffle.

    The oracle is the maximal statement: the merged table must equal
    a full GROUP BY recompute over ALL events (floor-micro
    integerization is bit-identical across engines, so partial-merge
    vs recompute cannot differ even in ties).
    """
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_index,
        incremental_rollup_update,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 != 0)
    batch = e.filter(F.col("event_id") % 10 == 0)

    with _temp_db(spark, "ldf_r6_rollup") as db:
        build_rollup_index(spark, corpus, f"{db}.state")
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = incremental_rollup_update(spark, f"{db}.state", batch)
            plan = _plan_of(out, "formatted")
            if "Bucketed: true" not in plan:
                raise AssertionError(
                    "rollup merge did not read the state table "
                    f"bucket-aware:\n{plan}")
            # count the formatted plan's "(n) Exchange" detail headers
            # (each node also appears in the tree sketch — a bare
            # substring count would double-count every Exchange)
            shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
            if shuffles > 2:
                raise AssertionError(
                    "rollup merge shuffled more than the batch side "
                    f"({shuffles} Exchanges):\n{plan}")
            return out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           prev_bc)


INCREMENTAL_ROLLUP_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
GROUP BY 1, 2
"""
