"""Round-9 driver queries (VERDICT r08 "Next round" tasks 3, 4 +
ADVICE r08 medium).

- ``dedup_index_timetravel`` — snapshot retention + time travel on a
  DOCUMENT INDEX (r08 had it for rollup state only): a takedown with
  ``keep_old=True`` retains the pre-delete generation, the audit
  question "what did the index pair before yesterday's delete?" is
  answered off the retained snapshot, and takedown-COMPLIANT vacuum
  retires every pre-delete generation (a retained snapshot still
  contains the taken-down documents — retention policy must say so,
  and here it is machine-asserted).

- ``rollup_histogram_rebin`` — bounds maintenance for the mergeable
  histogram: the frozen-domain contract clamps out-of-range batch
  values to edge bins, which keeps folds mergeable but silently
  biases percentiles under distribution drift.  The fold now exposes
  the CLAMPED FRACTION (the drift signal), and a REBIN op widens the
  domain and re-bins the standing state by bin-midpoint
  approximation — O(state), never a corpus rescan, error still one
  (old) bin width.

- ``rollup_retract_nulls`` — driver-gates the ADVICE r08 medium fix:
  retracting an all-NULL-value slice must not vanish surviving
  groups (NULL batch extrema are extremum-safe, not three-valued).

Catalog hygiene matches round-7/8: uuid-suffixed session-temp
databases dropped (CASCADE) before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.pipeline_queries import (
    _BANDS,
    _NUM_HASHES,
    _minhash_sql,
)
from legate_dataframe_spark.plans.relational import load_table
from legate_dataframe_spark.plans.round10b import (
    _assert_bucketed,
    _plan_of,
    _temp_db,
)


# ===================== index snapshot retention + time travel
def dedup_index_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-index TIME TRAVEL across a takedown: build over ALL
    documents (generation 0 of both index tables), DELETE
    doc_id % 10 == 0 with ``keep_old=True`` (generation 1 behind the
    stable views; generation 0 retained for audit), then answer the
    audit question by serving the corpus-internal pair set off BOTH
    generations — one summary row each.  Afterwards the
    takedown-COMPLIANT vacuum runs in-query: the retained pre-delete
    snapshot still CONTAINS the taken-down documents, so compliance
    means retiring every generation older than the delete
    (vacuum keep_last=1); assertions pin that exactly generation 0
    was dropped from both tables and that the live view still serves
    the post-delete pair set.  Oracle: the full LSH pair recompute
    over documents (generation 0) and over documents MINUS the
    deleted set (generation 1) — a snapshot that bled rows either way
    flips a count or the jaccard mass and fails the hash."""
    from legate_dataframe_spark.core.bucketing import vacuum_generations
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        delete_from_minhash_index,
        minhash_pairs_from_index,
    )

    d = load_table(spark, sf_dir, "documents")
    gone = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    with _temp_db(spark, "ldf_r9_ttl") as db:
        build_minhash_index(spark, d, f"{db}.idx",
                            num_hashes=_NUM_HASHES, bands=_BANDS)
        delete_from_minhash_index(spark, gone, f"{db}.idx",
                                  keep_old=True)
        out = None
        for g in (0, 1):
            snap = (minhash_pairs_from_index(
                spark, f"{db}.idx", jaccard_threshold=0.5, generation=g)
                .agg(F.lit(g).cast("long").alias("generation"),
                     F.count(F.lit(1)).alias("n_pairs"),
                     F.round(F.sum("jaccard"), 4).alias("sum_jaccard")))
            out = snap if out is None else out.unionByName(snap)
        out = out.localCheckpoint(eager=True)  # BEFORE the vacuum
        for t in ("idx_bands", "idx_shingles"):
            dropped = vacuum_generations(spark, f"{db}.{t}",
                                         keep_last=1)
            if dropped != [0]:
                raise AssertionError(
                    f"takedown vacuum on {t} dropped {dropped}, "
                    "expected [0]")
        n_live = minhash_pairs_from_index(
            spark, f"{db}.idx", jaccard_threshold=0.5).count()
        n_g1 = {r["generation"]: r["n_pairs"] for r in out.collect()}[1]
        if n_live != n_g1:
            raise AssertionError(
                f"post-vacuum live serve ({n_live} pairs) != retained "
                f"generation 1 ({n_g1})")
        return out


DEDUP_INDEX_TIMETRAVEL_SQL = f"""
SELECT CAST(0 AS BIGINT) AS generation, count(*) AS n_pairs,
       round(sum(jaccard), 4) AS sum_jaccard
FROM ({_minhash_sql("documents")}) g0
UNION ALL
SELECT CAST(1 AS BIGINT) AS generation, count(*) AS n_pairs,
       round(sum(jaccard), 4) AS sum_jaccard
FROM ({_minhash_sql(
    "(SELECT * FROM documents WHERE doc_id % 10 != 0)")}) g1
"""


# ===================== IVF index time travel (trained-artifact pairing)
def ann_index_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TIME TRAVEL across a vector takedown — completes the
    retention matrix over all four index types (minhash r09, BM25
    r09, components via the label CDF, and now IVF).  The consistency
    argument is the trained-artifact one: deletes never move the
    centroids, so a retained pre-delete ASSIGNMENT generation pairs
    exactly with the live centroid table.  Build over ALL embeddings,
    DELETE vec_id % 4 == 0 with ``keep_old=True``, serve the same
    query batch off generation 0 (pre-delete ≡ IVF over the full
    corpus) and the live view (post-delete), broadcast off so both
    probe joins must read the bucketed snapshots (``Bucketed: true``
    asserted on BOTH).  Then the takedown-compliant vacuum retires
    generation 0 and the live serve is asserted unchanged.  Oracle:
    the capped in-query IVF search over all embeddings (generation 0)
    and over embeddings MINUS the deleted vectors (live), same fixed
    centroids."""
    from legate_dataframe_spark.core.bucketing import vacuum_generations
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_search_persisted,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # fixed query sample — see pipeline_queries._ANN_QUERY_ID_CAP
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
    with _temp_db(spark, "ldf_r9_ivfttl") as db:
        build_ivf_index(spark, e, cen, f"{db}.ivf")
        delete_from_ivf_index(
            spark, e.filter(F.col("vec_id") % 4 == 0).select("vec_id"),
            f"{db}.ivf", keep_old=True)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            g0 = ivf_search_persisted(spark, q, f"{db}.ivf", k=5,
                                      n_probe=2, generation=0)
            live = ivf_search_persisted(spark, q, f"{db}.ivf", k=5,
                                        n_probe=2)
            _assert_bucketed(_plan_of(g0), "snapshot IVF serve")
            _assert_bucketed(_plan_of(live), "live IVF serve")
            out = (g0.select(F.lit(0).cast("long").alias("generation"),
                             "q_id", "c_id", "cos_sim", "rank")
                   .unionByName(live.select(
                       F.lit(1).cast("long").alias("generation"),
                       "q_id", "c_id", "cos_sim", "rank"))
                   .localCheckpoint(eager=True))  # BEFORE the vacuum
            dropped = vacuum_generations(spark, f"{db}.ivf_assign",
                                         keep_last=1)
            if dropped != [0]:
                raise AssertionError(
                    f"takedown vacuum dropped {dropped}, expected [0]")
            after = {tuple(r) for r in ivf_search_persisted(
                spark, q, f"{db}.ivf", k=5, n_probe=2).collect()}
            want = {(r["q_id"], r["c_id"], r["cos_sim"], r["rank"])
                    for r in out.collect() if r["generation"] == 1}
            if after != want:
                raise AssertionError("live serve changed across vacuum")
            return out
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _ann_timetravel_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import (
        ANN_IVF_SEARCH_SQL,
    )
    from legate_dataframe_spark.plans.round8 import ANN_INDEX_DELETE_SQL

    return f"""
SELECT CAST(0 AS BIGINT) AS generation, q_id, c_id, cos_sim, rank
FROM ({ANN_IVF_SEARCH_SQL})
UNION ALL
SELECT CAST(1 AS BIGINT) AS generation, q_id, c_id, cos_sim, rank
FROM ({ANN_INDEX_DELETE_SQL})
"""


ANN_INDEX_TIMETRAVEL_SQL = _ann_timetravel_sql()


# ===================== components label-migration diff (CDF #2)
def components_label_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest BLAST RADIUS on the dup-cluster labelling — the change
    data feed applied to the second state type: build labels over the
    corpus (doc_id % 10 != 0), ingest Monday's batch (% 10 == 0:
    cross pairs off the persisted minhash index + batch-internal
    pairs, contract-merged), swap with ``keep_old=True``, and DIFF
    the two generations.  ``insert`` = docs that ENTERED the
    labelling (Monday docs with near-dups, plus corpus docs whose
    first near-dup arrived on Monday); ``update`` = docs whose
    cluster label CHANGED (merges — including labels moving because a
    smaller Monday id became the cluster minimum); deletes cannot
    happen on ingest (asserted).  Untouched docs are absent — the
    feed is change-sized, not corpus-sized.  Oracle: two full
    recursive-CTE labelings (corpus-only vs all documents) outer-
    joined with the same classification."""
    from legate_dataframe_spark.core.bucketing import (
        generation_diff,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
        incremental_components_update,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    monday = d.filter(F.col("doc_id") % 10 == 0)
    with _temp_db(spark, "ldf_r9_labdiff") as db:
        idx, labels = f"{db}.idx", f"{db}.labels"
        dedup.build_minhash_index(spark, corpus, idx,
                                  num_hashes=_NUM_HASHES, bands=_BANDS)
        pairs = dedup.minhash_pairs_from_index(
            spark, idx, jaccard_threshold=0.5).select("id_a", "id_b")
        build_components_index(spark, pairs, labels)
        cross = (dedup.incremental_minhash_dedup(
            spark, monday, idx, num_hashes=_NUM_HASHES, bands=_BANDS,
            jaccard_threshold=0.5).select("corpus_id", "batch_id"))
        internal = dedup.minhash_lsh_pairs(
            monday, num_hashes=_NUM_HASHES, bands=_BANDS,
            jaccard_threshold=0.5).select("id_a", "id_b")
        merged = incremental_components_update(spark, labels, cross,
                                               internal)
        swap_versioned(spark, merged, labels, ["node"],
                       num_buckets=16, keep_old=True)
        out = generation_diff(spark, labels, 0, 1, ["node"],
                              ["component"])
        kinds = {r[0] for r in out.select("change_type")
                 .distinct().collect()}
        if "delete" in kinds:
            raise AssertionError(
                "ingest produced a delete — labels were lost")
        if "insert" not in kinds:
            raise AssertionError("ingest produced no inserts")
        return (out.select(F.col("node").alias("doc_id"), "change_type",
                           "old_component", "new_component")
                .localCheckpoint(eager=True))


def _components_label_diff_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import (
        _minhash_sql,
    )

    def labeling(src: str) -> str:
        return f"""(
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_sql(src)}) mh
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
)
SELECT node, min(label) AS component FROM walk GROUP BY node
)"""

    old = labeling("(SELECT * FROM documents WHERE doc_id % 10 != 0)")
    new = labeling("documents")
    return f"""
WITH old_l AS (SELECT * FROM {old} o),
new_l AS (SELECT * FROM {new} n),
d AS (
  SELECT coalesce(o.node, n.node) AS doc_id,
         CASE WHEN o.node IS NULL THEN 'insert'
              WHEN n.node IS NULL THEN 'delete'
              WHEN o.component != n.component THEN 'update'
         END AS change_type,
         o.component AS old_component,
         n.component AS new_component
  FROM old_l o FULL JOIN new_l n ON o.node = n.node)
SELECT doc_id, change_type, old_component, new_component
FROM d WHERE change_type IS NOT NULL
"""


COMPONENTS_LABEL_DIFF_SQL = _components_label_diff_sql()


# ===================== BM25 index time travel (derived stats)
def bm25_index_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TIME TRAVEL across a takedown — the cross-table-
    consistency case the minhash instance doesn't cover: a BM25
    snapshot is only meaningful as (postings, stats) TOGETHER, and
    the 1-row stats table is live-only, so the historical serve
    DERIVES the stats from the retained postings snapshot itself
    (dl rides denormalized on every posting row — consistency by
    construction; see text.bm25_search_persisted).  Build over ALL
    documents, DELETE doc_id % 10 == 0 with ``keep_old=True``, serve
    the same top-10 search off generation 0 (pre-delete) and the
    live view (post-delete), then run the takedown-compliant vacuum
    and assert generation 0 is gone with the live serve unchanged.
    Oracle: the in-query BM25 over ALL documents (generation 0) and
    over documents MINUS the deleted set (live) — stale or drifted
    derived stats flip scores and fail the hash."""
    from legate_dataframe_spark.core.bucketing import vacuum_generations
    from legate_dataframe_spark.pipeline.text import (
        bm25_search_persisted,
        build_bm25_index,
        delete_from_bm25_index,
    )

    d = load_table(spark, sf_dir, "documents")
    terms = ["shuffle", "broadcast", "vector"]
    with _temp_db(spark, "ldf_r9_bmttl") as db:
        build_bm25_index(spark, d, f"{db}.idx")
        delete_from_bm25_index(
            spark, d.filter(F.col("doc_id") % 10 == 0).select("doc_id"),
            f"{db}.idx", keep_old=True)
        g0 = (bm25_search_persisted(spark, terms, f"{db}.idx",
                                    topk=10, generation=0)
              .select(F.lit(0).cast("long").alias("generation"),
                      "doc_id", "bm25", "rank"))
        live = (bm25_search_persisted(spark, terms, f"{db}.idx",
                                      topk=10)
                .select(F.lit(1).cast("long").alias("generation"),
                        "doc_id", "bm25", "rank"))
        plan = _plan_of(live)
        if "SelectedBucketsCount" not in plan:
            raise AssertionError(
                "live serve lost bucket pruning:\n" + plan)
        out = g0.unionByName(live).localCheckpoint(eager=True)
        dropped = vacuum_generations(spark, f"{db}.idx_postings",
                                     keep_last=1)
        if dropped != [0]:
            raise AssertionError(
                f"takedown vacuum dropped {dropped}, expected [0]")
        after = {(r["doc_id"], r["bm25"]) for r in bm25_search_persisted(
            spark, terms, f"{db}.idx", topk=10).collect()}
        want = {(r["doc_id"], r["bm25"]) for r in out.collect()
                if r["generation"] == 1}
        if after != want:
            raise AssertionError("live serve changed across vacuum")
        return out


def _bm25_timetravel_sql() -> str:
    from legate_dataframe_spark.plans.round8 import _bm25_sql

    return f"""
SELECT CAST(0 AS BIGINT) AS generation, doc_id, bm25, rank
FROM ({_bm25_sql()})
UNION ALL
SELECT CAST(1 AS BIGINT) AS generation, doc_id, bm25, rank
FROM ({_bm25_sql("(SELECT * FROM documents WHERE doc_id % 10 != 0)")})
"""


BM25_INDEX_TIMETRAVEL_SQL = _bm25_timetravel_sql()


# ============================ histogram clamp signal + REBIN
def rollup_histogram_rebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram BOUNDS MAINTENANCE under distribution drift: build
    the per-type 64-bin histogram over the corpus (bounds frozen at
    corpus min/max), then fold a DRIFTED batch — the % 10 == 0 slice
    with values scaled 8x, simulating the upstream scale change that
    breaks every frozen-domain sketch — and measure the CLAMPED
    FRACTION per type (pipeline/rollup.py::histogram_batch_clamp_
    stats, the signal that was missing).  The fraction exceeds the
    rebin threshold (asserted), so ``rebin_histogram`` widens the
    domain by 50% of the span on each side and re-bins the standing
    state by bin-midpoint approximation — O(≤ types × 64 rows), no
    corpus rescan.  p50 is then served off the rebinned state; the
    output carries the per-type clamp fraction alongside.  Oracle:
    identical IEEE arithmetic in DuckDB — corpus binning, clamped
    batch fold, midpoint rebin, percentile walk, clamp fraction —
    any drifted bound or misrouted bin flips a row."""
    from legate_dataframe_spark.pipeline.rollup import (
        build_histogram_rollup,
        histogram_batch_clamp_stats,
        histogram_percentile_serve,
        histogram_rollup_update,
        persist_histogram,
        rebin_histogram,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 != 0)
    batch = (e.filter(F.col("event_id") % 10 == 0)
             .withColumn("value", F.col("value") * F.lit(8.0)))
    with _temp_db(spark, "ldf_r9_rebin") as db:
        build_histogram_rollup(spark, corpus, f"{db}.h")
        clamp = (histogram_batch_clamp_stats(spark, f"{db}.h", batch)
                 .localCheckpoint(eager=True))  # before bounds change
        mx = clamp.agg(F.max("clamp_frac")).collect()[0][0]
        if mx is None or mx <= 0.05:
            raise AssertionError(
                f"drifted batch did not clamp (max clamp_frac={mx}) — "
                "the rebin trigger never fired")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            merged = histogram_rollup_update(spark, f"{db}.h", batch)
            _assert_bucketed(_plan_of(merged), "histogram fold")
            # counts + bounds persist in ONE atomic view repoint
            persist_histogram(spark, f"{db}.h", merged, num_buckets=8)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        rebin_histogram(spark, f"{db}.h", widen=0.5)
        serve = histogram_percentile_serve(spark, f"{db}.h", p=0.5)
        out = serve.join(clamp.select("event_type", "clamp_frac"),
                         "event_type")
        return out.localCheckpoint(eager=True)


ROLLUP_HISTOGRAM_REBIN_SQL = """
WITH b AS (
  SELECT min(value) AS vlo, max(value) AS vhi FROM events
  WHERE event_id % 10 != 0 AND value IS NOT NULL),
corpus_binned AS (
  SELECT event_type,
         CASE WHEN vhi > vlo THEN
           greatest(0, least(63,
             CAST(floor((value - vlo) / (vhi - vlo) * 64) AS INT)))
         ELSE 0 END AS bkt
  FROM events, b WHERE event_id % 10 != 0 AND value IS NOT NULL),
batch AS (
  SELECT event_type, value * 8.0 AS value FROM events
  WHERE event_id % 10 = 0 AND value IS NOT NULL),
batch_binned AS (
  SELECT event_type,
         CASE WHEN vhi > vlo THEN
           greatest(0, least(63,
             CAST(floor((value - vlo) / (vhi - vlo) * 64) AS INT)))
         ELSE 0 END AS bkt
  FROM batch, b),
hist AS (
  SELECT event_type, bkt, count(*) AS cnt
  FROM (SELECT * FROM corpus_binned
        UNION ALL SELECT * FROM batch_binned)
  GROUP BY 1, 2),
clamp AS (
  SELECT event_type,
         round(sum(CASE WHEN value < vlo OR value > vhi
                        THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS clamp_frac
  FROM batch, b GROUP BY event_type),
nb AS (
  SELECT vlo, vhi,
         vlo - 0.5 * (vhi - vlo) AS nlo,
         vhi + 0.5 * (vhi - vlo) AS nhi
  FROM b),
rebinned AS (
  SELECT event_type,
         greatest(0, least(63, CAST(floor(
           ((vlo + (bkt + 0.5) * (vhi - vlo) / 64) - nlo)
           / (nhi - nlo) * 64) AS INT))) AS bkt,
         cnt
  FROM hist, nb),
rhist AS (
  SELECT event_type, bkt, sum(cnt) AS cnt FROM rebinned GROUP BY 1, 2),
cum AS (
  SELECT event_type, bkt, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bkt) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM rhist),
first AS (
  SELECT * FROM (
    SELECT event_type, bkt, n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY bkt) AS rn
    FROM cum WHERE cum >= ceil(0.5 * n)) WHERE rn = 1)
SELECT f.event_type, CAST(n AS BIGINT) AS n,
       CAST(bkt AS BIGINT) AS p_bin,
       round(nlo + bkt * (nhi - nlo) / 64, 6) AS bin_lo,
       round(nlo + (bkt + 1) * (nhi - nlo) / 64, 6) AS bin_hi,
       round(nlo + (bkt + 0.5) * (nhi - nlo) / 64, 6) AS est_p,
       c.clamp_frac
FROM first f JOIN clamp c ON f.event_type = c.event_type, nb
"""


# ============================ change data feed (generation diff)
def rollup_generation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the versioned rollup — the audit
    companion to time travel (retention answers "what did the state
    say?"; the diff answers "what did the maintenance DO?").  Three
    generations: g0 = corpus rollup (event_id % 10 ≥ 2, EXCLUDING the
    lexicographically-LAST event_type — so the ingest genuinely
    creates groups), g1 = g0 + Monday's batch (% 10 == 0, all types;
    swap keep_old), g2 = g1 RETRACTING every event of the
    lexicographically-FIRST event_type (whole groups vanish).
    ``generation_diff(g0, g2)`` then classifies every group: the
    last type's Monday groups are ``insert``s, the first type's g0
    groups are ``delete``s, Monday-touched surviving groups are
    ``update``s — unchanged groups are absent.  Both snapshots
    share the bucket spec, so the diff's outer join reads co-located
    buckets (``Bucketed: true`` asserted, broadcast off).  Oracle:
    the same full-outer-join classification over the two slices'
    GROUP BYs, computed from raw events."""
    from legate_dataframe_spark.core.bucketing import (
        generation_diff,
        init_versioned,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        GROUP_KEYS,
        event_partials,
        incremental_rollup_update,
        rollup_retract,
    )

    e = load_table(spark, sf_dir, "events")
    # 1-row deterministic picks — not a data collect
    row = e.agg(F.min("event_type").alias("lo"),
                F.max("event_type").alias("hi")).collect()[0]
    gone_type, new_type = row["lo"], row["hi"]
    corpus = e.filter((F.col("event_id") % 10 >= 2)
                      & (F.col("event_type") != new_type))
    monday = e.filter(F.col("event_id") % 10 == 0)
    with _temp_db(spark, "ldf_r9_cdf") as db:
        state = f"{db}.state"
        init_versioned(spark, event_partials(corpus), state,
                       GROUP_KEYS, num_buckets=16)
        swap_versioned(spark,
                       incremental_rollup_update(spark, state, monday),
                       state, GROUP_KEYS, num_buckets=16, keep_old=True)
        both = corpus.unionByName(monday)
        batch = both.filter(F.col("event_type") == gone_type)
        remaining = both.filter(F.col("event_type") != gone_type)
        swap_versioned(spark,
                       rollup_retract(spark, state, batch, remaining),
                       state, GROUP_KEYS, num_buckets=16, keep_old=True)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = generation_diff(spark, state, 0, 2, GROUP_KEYS,
                                  ["n", "sum_micro"])
            _assert_bucketed(_plan_of(out), "generation diff join")
            kinds = {r[0] for r in out.select("change_type")
                     .distinct().collect()}
            if kinds != {"insert", "delete", "update"}:
                raise AssertionError(
                    f"diff missing a change class: {kinds}")
            return out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


ROLLUP_GENERATION_DIFF_SQL = """
WITH picks AS (SELECT min(event_type) AS lo, max(event_type) AS hi
               FROM events),
old AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_micro
  FROM events, picks
  WHERE event_id % 10 >= 2 AND event_type != hi
  GROUP BY 1, 2),
new AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_micro
  FROM events, picks
  WHERE ((event_id % 10 >= 2 AND event_type != hi)
         OR event_id % 10 = 0)
    AND event_type != lo
  GROUP BY 1, 2),
d AS (
  SELECT coalesce(o.day, n2.day) AS day,
         coalesce(o.event_type, n2.event_type) AS event_type,
         CASE WHEN o.day IS NULL THEN 'insert'
              WHEN n2.day IS NULL THEN 'delete'
              -- null-safe, matching generation_diff's eqNullSafe
              -- (ADVICE r09: '!=' would drop a NULL->non-NULL flip)
              WHEN o.n IS DISTINCT FROM n2.n
                OR o.sum_micro IS DISTINCT FROM n2.sum_micro
                THEN 'update' END AS change_type,
         o.n AS old_n, n2.n AS new_n,
         o.sum_micro AS old_sum_micro, n2.sum_micro AS new_sum_micro
  FROM old o
  FULL JOIN new n2 ON o.day = n2.day AND o.event_type = n2.event_type)
SELECT CAST(day AS TIMESTAMP) AS day, event_type, change_type,
       old_n, old_sum_micro, new_n, new_sum_micro
FROM d WHERE change_type IS NOT NULL
"""


# ===================== retraction of an all-NULL-value slice
def rollup_retract_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the ADVICE r08 medium fix: the % 10 == 0 slice
    is NULLIFIED (value := NULL) before the rollup is built, then
    RETRACTED — so every surviving group's deleted batch extrema are
    NULL, exactly the three-valued trap that silently vanished groups
    from the retracted state.  Post-fix, NULL batch extrema are
    extremum-safe: n decrements, sum is untouched (NULLs contribute
    nothing), min/max stay.  Oracle (maximal): full GROUP BY over
    events MINUS the slice — a vanished group is a missing row."""
    from legate_dataframe_spark.core.bucketing import swap_versioned
    from legate_dataframe_spark.pipeline.rollup import (
        GROUP_KEYS,
        build_rollup_index,
        rollup_retract,
    )

    e = load_table(spark, sf_dir, "events")
    e2 = e.withColumn(
        "value",
        F.when(F.col("event_id") % 10 == 0,
               F.lit(None).cast("double")).otherwise(F.col("value")))
    batch = e2.filter(F.col("event_id") % 10 == 0)
    remaining = e2.filter(F.col("event_id") % 10 != 0)
    with _temp_db(spark, "ldf_r9_retnull") as db:
        state = f"{db}.state"
        build_rollup_index(spark, e2, state)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = rollup_retract(spark, state, batch, remaining)
            _assert_bucketed(_plan_of(out), "all-NULL retract merge")
            # first swap migrates the plain bucketed build into the
            # versioned layout, then repoints atomically
            swap_versioned(spark, out, state, GROUP_KEYS,
                           num_buckets=16)
            return (spark.table(state)
                    .select("day", "event_type", "n", "sum_micro",
                            "min_micro", "max_micro")
                    .localCheckpoint(eager=True))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


ROLLUP_RETRACT_NULLS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
WHERE event_id % 10 != 0
GROUP BY 1, 2
"""
