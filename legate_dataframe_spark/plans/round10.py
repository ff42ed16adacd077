"""Round-10 driver queries (VERDICT r09 "Next round" tasks 3, 4, 8).

- ``rollup_manifest_refresh`` — the day-partitioned rollup refresh
  PLANNED FROM A FILE MANIFEST instead of a directory listing: the
  r08 spot-check isolated O(partitions) driver listing as the only
  history-proportional cost of a refresh (data reads were flat under
  DPP); the manifest written at commit time closes it — planning
  reads file-count rows, never walks the table.

- ``manifest_pruned_scan`` — footer-stats file pruning: a range-
  partitioned fact table's manifest records per-file min/max of the
  sort key; a windowed aggregate plans its file list from those
  ranges and reads a fraction of the table without listing it.

- ``index_compaction_signal`` — the maintenance trigger VERDICT r09
  task 8 asked for: bucket-preserving appends accrete one file per
  bucket per batch; the manifest exposes files-per-bucket; crossing
  the threshold triggers compaction THROUGH the atomic view swap,
  and the takedown-compliant vacuum + manifest prune runs after.

- ``rollup_schema_evolution`` — VERDICT r09 task 4: a versioned
  rollup GAINS a metric column in a swap; time travel still reads
  the pre-change generation, ``generation_diff`` null-fills the
  added column across the schema boundary, and vacuum retires
  through it.

Catalog hygiene matches round-7/8/9: uuid-suffixed session-temp
databases dropped (CASCADE) before returning.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.relational import load_table
from legate_dataframe_spark.plans.round10b import (
    _assert_bucketed,
    _plan_of,
    _temp_db,
)


# ===================== manifest-planned partitioned-rollup refresh
def rollup_manifest_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two manifest-planned refreshes against a DATE-partitioned
    rollup: Monday's batch touches days 5–6, Tuesday's days 10–11.
    Each refresh plans its state read from the manifest (an explicit
    file list — ``spark.table`` is never called for data, so the
    table directory is never listed), merges mergeable partials,
    dynamic-overwrites exactly the touched partitions, and refreshes
    the manifest rows of those partitions only.  In-query asserts pin
    the pruning arithmetic: each refresh planned strictly fewer files
    than the manifest holds, and the second refresh's manifest total
    reflects the first's rewrite (staleness would double-count or
    miss files).  Oracle (maximal): the final state equals a full
    GROUP BY over corpus ∪ both batches — a refresh that read stale
    manifest rows, merged against the wrong files, or overwrote an
    untouched day flips a partial."""
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_date_partitioned,
        incremental_rollup_overwrite_manifest,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    day = F.date_trunc("day", F.col("ts"))
    monday = e.filter((F.col("event_id") % 10 == 0)
                      & (day >= F.lit("2024-01-05").cast("timestamp"))
                      & (day < F.lit("2024-01-07").cast("timestamp")))
    tuesday = e.filter((F.col("event_id") % 10 == 1)
                       & (day >= F.lit("2024-01-10").cast("timestamp"))
                       & (day < F.lit("2024-01-12").cast("timestamp")))
    with _temp_db(spark, "ldf_r10_mfroll") as db:
        state = f"{db}.state"
        build_rollup_date_partitioned(spark, corpus, state)
        planned1, total1, rewritten1 = (
            incremental_rollup_overwrite_manifest(spark, state, monday))
        if not (0 < planned1 < total1):
            raise AssertionError(
                f"refresh 1 planned {planned1} of {total1} manifest "
                "files — the manifest did not prune the state read")
        planned2, total2, rewritten2 = (
            incremental_rollup_overwrite_manifest(spark, state, tuesday))
        if not (0 < planned2 < total2):
            raise AssertionError(
                f"refresh 2 planned {planned2} of {total2} manifest "
                "files — the manifest did not prune the state read")
        # the first rewrite is visible to the second's planning total
        if total2 != total1 - planned1 + rewritten1:
            raise AssertionError(
                f"manifest staleness: total2={total2} != "
                f"{total1}-{planned1}+{rewritten1}")
        if rewritten2 <= 0:
            raise AssertionError("refresh 2 rewrote no manifest rows")
        return (spark.table(state)
                .select(F.col("day").cast("timestamp").alias("day"),
                        "event_type", "n", "sum_micro",
                        "min_micro", "max_micro")
                .localCheckpoint(eager=True))


ROLLUP_MANIFEST_REFRESH_SQL = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
WHERE event_id % 10 >= 2
   OR (event_id % 10 = 0
       AND date_trunc('day', ts) >= TIMESTAMP '2024-01-05'
       AND date_trunc('day', ts) <  TIMESTAMP '2024-01-07')
   OR (event_id % 10 = 1
       AND date_trunc('day', ts) >= TIMESTAMP '2024-01-10'
       AND date_trunc('day', ts) <  TIMESTAMP '2024-01-12')
GROUP BY 1, 2
"""


# ===================== footer-stats file pruning from the manifest
def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-layout + manifest stats = listing-free file skipping: the
    events table is written range-partitioned and sorted on event_id
    (the z-order-lite layout a 100 TB fact table would carry on its
    clustering key), the manifest records each file's footer min/max
    of that key, and a windowed aggregate (event_id ∈ [200, 599])
    plans its file list by RANGE OVERLAP against the manifest —
    strictly fewer files than the table holds (asserted), with the
    residual filter applied in-scan so pruning is a pure optimization
    (overlap is conservative, never wrong).  Oracle: the same
    windowed aggregate over the raw events table."""
    from legate_dataframe_spark.core import manifest as mf

    e = load_table(spark, sf_dir, "events")
    lo_id, hi_id = 200, 599
    with _temp_db(spark, "ldf_r10_mfprune") as db:
        t = f"{db}.ev"
        (e.repartitionByRange(8, "event_id")
         .sortWithinPartitions("event_id")
         .write.format("parquet").saveAsTable(t))
        n_manifest = mf.write_manifest(spark, t, stats_col="event_id")
        files = mf.manifest_files(
            spark, t,
            min_key=f"{lo_id:020d}", max_key=f"{hi_id:020d}")
        if not (0 < len(files) < n_manifest):
            raise AssertionError(
                f"stats pruning planned {len(files)} of {n_manifest} "
                "files — expected a strict subset")
        scan = mf.read_from_manifest(spark, t, files,
                                     schema=spark.table(t).schema)
        out = (scan.filter((F.col("event_id") >= lo_id)
                           & (F.col("event_id") <= hi_id))
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.floor(F.col("value") * F.lit(1_000_000.0))
                          .cast("long")).alias("sum_micro")))
        return out.localCheckpoint(eager=True)


MANIFEST_PRUNED_SCAN_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_micro
FROM events
WHERE event_id BETWEEN 200 AND 599
GROUP BY event_type
"""


# ===================== files-per-bucket signal → threshold compaction
def index_compaction_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file maintenance LOOP, signal-driven end to end
    (VERDICT r09 task 8): a view-routed bucketed document state takes
    three bucket-preserving appends (each accretes exactly one file
    per bucket — the manifest records it), the files-per-bucket
    signal crosses the threshold (asserted: 4 ≥ 3), compaction runs
    THROUGH the atomic view swap (one read + one write of a fresh
    generation + catalog repoint — readers never see a gap), the
    manifest for the compacted generation shows every bucket back at
    one file (asserted), and the takedown-compliant vacuum + manifest
    prune retire the fragmented generation.  A keyed aggregate over
    the compacted state must still read ``Bucketed: true`` —
    maintenance never degrades co-location.  Oracle: per-language doc
    count + char mass over ALL documents (a compaction that lost or
    duplicated an append flips both)."""
    from legate_dataframe_spark.core import manifest as mf
    from legate_dataframe_spark.core.bucketing import (
        append_versioned,
        init_versioned,
        swap_versioned,
        vacuum_generations,
    )

    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "n_chars"))
    nb = 8
    with _temp_db(spark, "ldf_r10_compsig") as db:
        view = f"{db}.docs"
        # manifest=True keeps the manifest fresh INSIDE each
        # maintenance call — commit-time recording, no separate step
        # a caller could forget (silent staleness would plan empty
        # reads of the live generation)
        init_versioned(spark, d.filter(F.col("doc_id") % 4 == 1),
                       view, ["doc_id"], num_buckets=nb, manifest=True)
        for k in (2, 3, 0):
            batch = d.filter(F.col("doc_id") % 4 == k)
            append_versioned(spark, batch.repartition(nb, "doc_id"),
                             view, ["doc_id"], num_buckets=nb,
                             manifest=True)
        fpb = mf.files_per_bucket(spark, view, generation=0)
        threshold = 3
        if max(fpb.values()) < threshold:
            raise AssertionError(
                f"append accretion not visible in the manifest: {fpb}")
        # threshold crossed → compact through the atomic swap
        swap_versioned(spark, spark.table(view), view, ["doc_id"],
                       num_buckets=nb, keep_old=True, manifest=True)
        fpb2 = mf.files_per_bucket(spark, view, generation=1)
        if set(fpb2.values()) != {1}:
            raise AssertionError(
                f"compaction left multi-file buckets: {fpb2}")
        dropped = vacuum_generations(spark, view, keep_last=1)
        if dropped != [0]:
            raise AssertionError(
                f"vacuum dropped {dropped}, expected [0]")
        # vacuum prunes the manifest on the same cadence (a manifest
        # outliving its generations would plan reads of dropped files)
        gens_left = {r["generation"] for r in spark.table(
            mf.manifest_table(view)).select("generation")
            .distinct().collect()}
        if gens_left != {1}:
            raise AssertionError(
                f"manifest not pruned with the vacuum: {gens_left}")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            per_doc = spark.table(view).groupBy("doc_id").agg(
                F.first("lang").alias("lang"),
                F.sum("n_chars").alias("n_chars"))
            _assert_bucketed(_plan_of(per_doc),
                             "post-compaction keyed aggregate")
            out = (per_doc.groupBy("lang")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum("n_chars").alias("sum_chars")))
            return out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


INDEX_COMPACTION_SIGNAL_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
"""


# ===================== streaming ingest with manifest-planned refreshes
def stream_manifest_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming write-back loop over MANIFEST-planned state — the
    r10 twin of ``stream_rollup_chain``: every micro-batch merges into
    the date-partitioned rollup through
    ``incremental_rollup_overwrite_manifest``, so the whole ingest
    loop runs without a single table-directory listing (each trigger
    plans its state read from the manifest, rewrites only its touched
    days, and refreshes exactly those manifest rows — trigger i+1
    plans from rows trigger i committed).  Per-trigger pruning is
    asserted (planned < manifest total for every batch); the
    foreachBatch rig carries the r07/r08 lessons: cloned-session
    relation cache refreshed for BOTH the state and the manifest
    table per trigger, batch_id marker makes replays no-ops (an
    overwrite-merge replay would double-count).  Oracle (maximal):
    the drained state equals a full GROUP BY over corpus ∪ the three
    day-bounded ingest windows."""
    import os as _os
    import time as _time

    from legate_dataframe_spark.core import manifest as mf
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_date_partitioned,
        incremental_rollup_overwrite_manifest,
    )
    from legate_dataframe_spark.plans.round4 import _stage_single_file

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    todays = e.filter(F.col("event_id") % 10 <= 1)
    day = F.date_trunc("day", F.col("ts"))
    # each trigger is a DAY-BOUNDED ingest batch (2 days apiece) — a
    # real daily feed touches a sliver of history, which is exactly
    # what makes per-trigger manifest pruning assertable (planned <
    # total for every batch)
    windows = [("2024-01-03", "2024-01-05"),
               ("2024-01-13", "2024-01-15"),
               ("2024-01-23", "2024-01-25")]

    with _temp_db(spark, "ldf_r10_smchain") as db:
        state = f"{db}.state"
        build_rollup_date_partitioned(spark, corpus, state)
        stage = tempfile.mkdtemp(prefix="ldf_r10_smchain_stage_")
        ck = tempfile.mkdtemp(prefix="ldf_r10_smchain_ck_")
        pruning: list[tuple[int, int, int]] = []
        try:
            now = _time.time()
            for i, (lo, hi) in enumerate(windows):
                _stage_single_file(
                    todays.filter(
                        (day >= F.lit(lo).cast("timestamp"))
                        & (day < F.lit(hi).cast("timestamp"))),
                    stage, f"b{i}.parquet", now - 300 + i * 100)
            stream = (spark.readStream.schema(todays.schema)
                      .option("maxFilesPerTrigger", 1).parquet(stage))

            def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
                done = _os.path.join(ck, f"ldf_batch_{batch_id}.done")
                if _os.path.exists(done):
                    return
                sess = batch_df.sparkSession
                sess.catalog.refreshTable(state)
                sess.catalog.refreshTable(mf.manifest_table(state))
                planned, total, rewritten = (
                    incremental_rollup_overwrite_manifest(
                        sess, state,
                        batch_df.localCheckpoint(eager=True)))
                pruning.append((planned, total, rewritten))
                open(done, "w").close()

            q = (stream.writeStream.outputMode("append")
                 .foreachBatch(merge_batch)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            finished = q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            if not finished:
                q.stop()
                raise TimeoutError("stream_manifest_chain drain > 300s")
            if len(pruning) != 3:
                raise AssertionError(
                    f"expected 3 merged triggers, saw {len(pruning)}")
            for planned, total, rewritten in pruning:
                if not (0 < planned < total and rewritten > 0):
                    raise AssertionError(
                        f"a trigger lost manifest pruning: {pruning}")
            spark.catalog.refreshTable(state)
            return (spark.table(state)
                    .select(F.col("day").cast("timestamp").alias("day"),
                            "event_type", "n", "sum_micro",
                            "min_micro", "max_micro")
                    .localCheckpoint(eager=True))
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


STREAM_MANIFEST_CHAIN_SQL = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
WHERE event_id % 10 >= 2
   OR (event_id % 10 <= 1 AND (
        (date_trunc('day', ts) >= TIMESTAMP '2024-01-03'
         AND date_trunc('day', ts) < TIMESTAMP '2024-01-05')
     OR (date_trunc('day', ts) >= TIMESTAMP '2024-01-13'
         AND date_trunc('day', ts) < TIMESTAMP '2024-01-15')
     OR (date_trunc('day', ts) >= TIMESTAMP '2024-01-23'
         AND date_trunc('day', ts) < TIMESTAMP '2024-01-25')))
GROUP BY 1, 2
"""


# ===================== schema evolution across retained generations
def rollup_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A versioned rollup GAINS a metric in a refresh (VERDICT r09
    task 4 — the first thing a retained-generation platform hits when
    a rollup grows a column): generation 0 carries (n, sum_micro);
    generation 1 re-aggregates corpus ∪ Monday WITH the new
    ``n_nonnull`` metric and swaps in with ``keep_old=True``.  Time
    travel still reads the pre-change snapshot (asserted: generation
    0 has no n_nonnull column and its row count is unchanged), and
    ``generation_diff`` crosses the schema boundary by NULL-filling
    the added column on the old side — typed NULL, so every group
    whose metrics moved (or whose n_nonnull materialized) classifies
    ``update`` exactly as a null-filled recompute says.  The vacuum
    then retires generation 0 through the boundary and the live view
    is asserted unchanged.  Oracle: the same full-outer
    classification over the two slices' GROUP BYs with
    CAST(NULL AS BIGINT) as the old-side n_nonnull."""
    from legate_dataframe_spark.core.bucketing import (
        generation_diff,
        init_versioned,
        read_generation,
        swap_versioned,
        vacuum_generations,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        GROUP_KEYS,
        event_partials,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 != 0)
    with _temp_db(spark, "ldf_r10_schevo") as db:
        state = f"{db}.state"
        g0 = event_partials(corpus).select(*GROUP_KEYS, "n", "sum_micro")
        init_versioned(spark, g0, state, GROUP_KEYS, num_buckets=16)
        g1 = (e.select(F.date_trunc("day", F.col("ts")).alias("day"),
                       "event_type", "value",
                       F.floor(F.col("value") * F.lit(1_000_000.0))
                       .cast("long").alias("micro"))
              .groupBy(*GROUP_KEYS)
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("micro").alias("sum_micro"),
                   F.count("value").alias("n_nonnull")))
        swap_versioned(spark, g1, state, GROUP_KEYS, num_buckets=16,
                       keep_old=True)
        old_snap = read_generation(spark, state, 0)
        if "n_nonnull" in old_snap.columns:
            raise AssertionError(
                "time travel leaked the post-evolution schema")
        n_g0 = old_snap.count()
        out = generation_diff(spark, state, 0, 1, GROUP_KEYS,
                              ["n", "sum_micro", "n_nonnull"])
        out = out.localCheckpoint(eager=True)  # BEFORE the vacuum
        dropped = vacuum_generations(spark, state, keep_last=1)
        if dropped != [0]:
            raise AssertionError(
                f"vacuum dropped {dropped}, expected [0]")
        if read_generation(spark, state, 1).count() != \
                spark.table(state).count():
            raise AssertionError("live view changed across vacuum")
        if n_g0 <= 0:
            raise AssertionError("pre-evolution snapshot was empty")
        return out


ROLLUP_SCHEMA_EVOLUTION_SQL = """
WITH old AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_micro
  FROM events WHERE event_id % 10 != 0
  GROUP BY 1, 2),
new AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_micro,
         count(value) AS n_nonnull
  FROM events
  GROUP BY 1, 2),
d AS (
  SELECT coalesce(o.day, n2.day) AS day,
         coalesce(o.event_type, n2.event_type) AS event_type,
         CASE WHEN o.day IS NULL THEN 'insert'
              WHEN n2.day IS NULL THEN 'delete'
              WHEN o.n IS DISTINCT FROM n2.n
                OR o.sum_micro IS DISTINCT FROM n2.sum_micro
                OR CAST(NULL AS BIGINT) IS DISTINCT FROM n2.n_nonnull
                THEN 'update' END AS change_type,
         o.n AS old_n, o.sum_micro AS old_sum_micro,
         CAST(NULL AS BIGINT) AS old_n_nonnull,
         n2.n AS new_n, n2.sum_micro AS new_sum_micro,
         n2.n_nonnull AS new_n_nonnull
  FROM old o
  FULL JOIN new n2 ON o.day = n2.day AND o.event_type = n2.event_type)
SELECT CAST(day AS TIMESTAMP) AS day, event_type, change_type,
       old_n, old_sum_micro, old_n_nonnull,
       new_n, new_sum_micro, new_n_nonnull
FROM d WHERE change_type IS NOT NULL
"""
