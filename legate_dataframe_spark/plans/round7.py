"""Round-7 driver queries (VERDICT r06 "Next round" tasks 1 and 8).

Two capability groups:

- **Multi-generation maintenance** (``incremental_rollup_chain``,
  ``incremental_components_chain``): the write-back loop the r06
  persisted-index family left open — batch N's merge is PERSISTED
  back as the new state (bucket-spec-preserving generation swap,
  core/bucketing.py::swap_versioned) and batch N+1 merges against
  the UPDATED state.  This is the actual production refresh loop;
  r06's queries were one-shot merge demos.  Oracles stay maximal:
  the final output must equal a full recompute over corpus + both
  batches.

- **Serve-only latency** (``*_serve_only`` for each persisted index:
  minhash dedup, components, IVF ANN, BM25, rollup): the index is
  built ONCE per session (module-level cache keyed by sf_dir) and the
  query times only the serve/maintenance path — the number a platform
  consumer actually cares about, and the proof that the r06 family's
  "build cost is amortized" claim cashes out.  Values are identical
  to the build+serve twins, so every oracle is reused verbatim.

Catalog hygiene: chain queries use uuid-suffixed session-temp
databases dropped (CASCADE) before returning; serve-only caches keep
their database alive for the session (that is the point) and register
an atexit cleanup for the backing tempdir.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.pipeline_queries import (
    _BANDS,
    _NUM_HASHES,
    DEDUP_CLUSTERS_SQL,
)
from legate_dataframe_spark.plans.relational import load_table
from legate_dataframe_spark.plans.round10b import _plan_of, _temp_db


def _assert_bucketed_merge(plan: str, what: str, max_exchanges: int = 2):
    """The two scale invariants every state merge must keep: the
    corpus-sized state table reads its own co-located buckets, and the
    only shuffle Exchanges belong to the (tiny, pre-aggregated) batch
    side."""
    if "Bucketed: true" not in plan:
        raise AssertionError(
            f"{what} did not read the state table bucket-aware:\n{plan}")
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    if shuffles > max_exchanges:
        raise AssertionError(
            f"{what} shuffled more than the batch side "
            f"({shuffles} Exchanges):\n{plan}")


# ============================================ multi-generation rollup chain
def incremental_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO refresh generations against a persisted rollup — closes
    VERDICT r06 "What's missing" #1 (the one capability gap the
    persisted-index family left open): r06's ``incremental_rollup``
    returned the merged state but never wrote it back, so nothing
    proved batch N+1 merges against state updated by batch N.

    Split: event_id % 10 ∉ {0, 1} is the standing corpus,
    % 10 == 0 is Monday's batch, % 10 == 1 is Tuesday's.  Loop:

    1. build the corpus rollup bucketed on the group key (paid once);
    2. merge Monday (O(batch)), then WRITE the merged result back as
       the new state via the bucket-spec-preserving two-phase swap
       (``{table}__next`` + drop/rename — Spark cannot overwrite a
       bucketed table its own write plan is reading);
    3. merge Tuesday against the GENERATION-2 state.

    Plan assertions on the Tuesday merge prove the swap preserved the
    scale shape: the renamed table still reads ``Bucketed: true`` and
    the plan carries ≤2 Exchanges, both batch-side — i.e. generation
    churn never degrades the state table to a shuffling scan.

    Oracle (maximal): the final state must equal a full GROUP BY over
    ALL events — corpus ∪ Monday ∪ Tuesday — bit-exactly (partials
    are floor-micro BIGINTs, so merge order cannot flap the hash).
    """
    from legate_dataframe_spark.core.bucketing import swap_versioned
    from legate_dataframe_spark.pipeline.rollup import (
        GROUP_KEYS,
        build_rollup_index,
        incremental_rollup_update,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    monday = e.filter(F.col("event_id") % 10 == 0)
    tuesday = e.filter(F.col("event_id") % 10 == 1)

    with _temp_db(spark, "ldf_r7_rollupchain") as db:
        state = f"{db}.state"
        build_rollup_index(spark, corpus, state)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # generation 2: merge Monday and swap it in as the state
            gen2 = incremental_rollup_update(spark, state, monday)
            swap_versioned(spark, gen2, state, GROUP_KEYS,
                           num_buckets=16)
            # generation 3: Tuesday merges against the UPDATED state
            out = incremental_rollup_update(spark, state, tuesday)
            _assert_bucketed_merge(_plan_of(out, "formatted"),
                                   "gen-2 rollup merge")
            return out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


# corpus ∪ Monday ∪ Tuesday = all events ⇒ the r06 full-recompute
# oracle is already the maximal statement for the chain
def _rollup_sql() -> str:
    from legate_dataframe_spark.plans.round6 import INCREMENTAL_ROLLUP_SQL

    return INCREMENTAL_ROLLUP_SQL


INCREMENTAL_ROLLUP_CHAIN_SQL = _rollup_sql()


# ======================================== multi-generation components chain
def incremental_components_chain(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TWO ingest days against the persisted dup-cluster label table —
    the components twin of ``incremental_rollup_chain``, exercising
    BOTH write-back surfaces a real ingest loop needs:

    - the LABEL TABLE is re-pointed each generation
      (``swap_versioned`` catalog-atomic view repoint, bucketed on
      node);
    - the MINHASH INDEX gains Monday's band/shingle rows via
      ``dedup.insert_into_minhash_index`` (bucket-spec-preserving
      append) so Tuesday's batch is checked against corpus ∪ Monday —
      without the insert, Monday↔Tuesday near-dups would be missed
      and the maximal oracle below would catch it.

    Split: doc_id % 10 ∉ {0, 5} corpus, % 10 == 0 Monday,
    % 10 == 5 Tuesday.  Per day: cross pairs off the (growing) index,
    day-internal pairs from day-only LSH, contract-merge into the
    label table, swap the merged labels in.

    The Tuesday merge asserts ``Bucketed: true`` on the RENAMED label
    table — generation churn preserved co-location.  Oracle: the
    final labelling must equal a full-corpus components recompute
    over ALL documents' near-dup pairs (DEDUP_CLUSTERS_SQL verbatim —
    same maximal statement as r06's one-shot query).
    """
    from legate_dataframe_spark.core.bucketing import swap_versioned
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
        incremental_components_update,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(~(F.col("doc_id") % 10).isin(0, 5))
    days = [d.filter(F.col("doc_id") % 10 == 0),
            d.filter(F.col("doc_id") % 10 == 5)]

    with _temp_db(spark, "ldf_r7_compchain") as db:
        idx, labels = f"{db}.corpus", f"{db}.labels"
        # build phase (paid once in production)
        dedup.build_minhash_index(spark, corpus, idx,
                                  num_hashes=_NUM_HASHES, bands=_BANDS)
        corpus_pairs = dedup.minhash_pairs_from_index(
            spark, idx, jaccard_threshold=0.5).select("id_a", "id_b")
        build_components_index(spark, corpus_pairs, labels)

        out = None
        for i, day in enumerate(days):
            cross = (dedup.incremental_minhash_dedup(
                spark, day, idx, num_hashes=_NUM_HASHES, bands=_BANDS,
                jaccard_threshold=0.5).select("corpus_id", "batch_id"))
            internal = dedup.minhash_lsh_pairs(
                day, num_hashes=_NUM_HASHES, bands=_BANDS,
                jaccard_threshold=0.5).select("id_a", "id_b")
            out = incremental_components_update(spark, labels, cross,
                                                internal)
            if i < len(days) - 1:
                # write-back: swap the merged labelling in as the new
                # state, admit the day's docs into the minhash index
                swap_versioned(spark, out, labels, ["node"],
                               num_buckets=16)
                dedup.insert_into_minhash_index(
                    spark, day, idx, num_hashes=_NUM_HASHES,
                    bands=_BANDS)
        plan = _plan_of(out, "formatted")
        if "Bucketed: true" not in plan:
            raise AssertionError(
                "gen-2 components merge did not read the swapped label "
                f"table bucket-aware:\n{plan}")
        return (out.select(F.col("node").alias("doc_id"),
                           F.col("component").alias("canonical_id"))
                .localCheckpoint(eager=True))


INCREMENTAL_COMPONENTS_CHAIN_SQL = DEDUP_CLUSTERS_SQL


# =========================================================== serve-only rig
# index caches: built once per (kind, sf_dir) per session; the serve
# queries below then time ONLY the serve path.  bench.py's best-of-N
# makes this exact: run 1 pays the build, runs 2+ are pure serves, and
# min() reports the serve.  The driver's one-shot correctness run pays
# build+serve — value-identical either way, so oracles are verbatim.
_SERVE_DBS: dict[tuple[str, str], str] = {}


def _served_db(spark: SparkSession, sf_dir: str, kind: str,
               builder: Callable[[str], None]) -> str:
    key = (kind, sf_dir)
    if key not in _SERVE_DBS:
        db = f"ldf_r7_{kind}_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix=f"ldf_r7_{kind}_")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
        builder(db)
        _SERVE_DBS[key] = db
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
    return _SERVE_DBS[key]


def dedup_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch near-dup check against an ALREADY-BUILT minhash index
    — the steady-state latency of the r05 ``incremental_dedup``
    operator with its build phase amortized away (VERDICT r06 task 8:
    the serve number is what a platform consumer actually pays per
    batch).  Identical values to ``incremental_dedup``; oracle reused
    verbatim."""
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    db = _served_db(spark, sf_dir, "mh",
                    lambda db: build_minhash_index(spark, corpus,
                                                   f"{db}.corpus"))
    return incremental_minhash_dedup(spark, batch, f"{db}.corpus")


def _dedup_serve_sql() -> str:
    from legate_dataframe_spark.plans.round5 import INCREMENTAL_DEDUP_SQL

    return INCREMENTAL_DEDUP_SQL


DEDUP_SERVE_ONLY_SQL = _dedup_serve_sql()


def components_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch cluster-label maintenance against ALREADY-BUILT
    minhash + label tables — r06's ``incremental_components`` minus
    its in-query build phase (which its 10× probe showed dominates:
    2.3× at 10× data, all build).  Values identical; oracle verbatim."""
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
        incremental_components_update,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    def build(db: str) -> None:
        dedup.build_minhash_index(spark, corpus, f"{db}.corpus",
                                  num_hashes=_NUM_HASHES, bands=_BANDS)
        pairs = dedup.minhash_pairs_from_index(
            spark, f"{db}.corpus",
            jaccard_threshold=0.5).select("id_a", "id_b")
        build_components_index(spark, pairs, f"{db}.labels")

    db = _served_db(spark, sf_dir, "comp", build)
    cross = (dedup.incremental_minhash_dedup(
        spark, batch, f"{db}.corpus", num_hashes=_NUM_HASHES,
        bands=_BANDS, jaccard_threshold=0.5)
        .select("corpus_id", "batch_id"))
    bpairs = dedup.minhash_lsh_pairs(
        batch, num_hashes=_NUM_HASHES, bands=_BANDS,
        jaccard_threshold=0.5).select("id_a", "id_b")
    out = incremental_components_update(spark, f"{db}.labels", cross,
                                        bpairs)
    return out.select(F.col("node").alias("doc_id"),
                      F.col("component").alias("canonical_id"))


COMPONENTS_SERVE_ONLY_SQL = DEDUP_CLUSTERS_SQL


def ann_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search against an ALREADY-BUILT persisted index — the
    production serving latency r06's ``ann_persisted_search`` 10×
    probe could not isolate (its 17 s row is dominated by the
    in-query corpus assign+write).  Values identical to the in-query
    IVF search over the same fixed centroids; oracle verbatim."""
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        ivf_search_persisted,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # fixed query sample (VERDICT r08 task 5): the r08 probe row
    # read 29x at 10x because this %-filter query set scaled WITH the
    # probe data; the cap pins the serving batch size so the ledger
    # row measures serving latency (no-op at sf0.01/sf0.1 scales)
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
    db = _served_db(spark, sf_dir, "ivf",
                    lambda db: build_ivf_index(spark, e, cen,
                                               f"{db}.ivf"))
    return ivf_search_persisted(spark, q, f"{db}.ivf", k=5, n_probe=2)


def _ann_serve_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import (
        ANN_IVF_SEARCH_SQL,
    )

    return ANN_IVF_SEARCH_SQL


ANN_SERVE_ONLY_SQL = _ann_serve_sql()


def bm25_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search against an ALREADY-BUILT inverted index —
    bucket-pruned postings fetch only (O(postings of the query's
    terms), the r06 design claim, now timed in isolation).  Values
    identical to the in-query ``bm25_search``; oracle verbatim."""
    from legate_dataframe_spark.pipeline.text import (
        bm25_search_persisted,
        build_bm25_index,
    )

    d = load_table(spark, sf_dir, "documents")
    db = _served_db(spark, sf_dir, "bm25",
                    lambda db: build_bm25_index(spark, d, f"{db}.idx"))
    return bm25_search_persisted(
        spark, ["shuffle", "broadcast", "vector"], f"{db}.idx", topk=10)


def _bm25_serve_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import BM25_SEARCH_SQL

    return BM25_SEARCH_SQL


BM25_SERVE_ONLY_SQL = _bm25_serve_sql()


def rollup_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup refresh against ALREADY-BUILT state — the per-refresh
    cost of r06's ``incremental_rollup`` with the one-time corpus
    aggregation amortized away.  Values identical; oracle verbatim."""
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_index,
        incremental_rollup_update,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 != 0)
    batch = e.filter(F.col("event_id") % 10 == 0)
    db = _served_db(spark, sf_dir, "rollup",
                    lambda db: build_rollup_index(spark, corpus,
                                                  f"{db}.state"))
    return incremental_rollup_update(spark, f"{db}.state", batch)


def _rollup_serve_sql() -> str:
    from legate_dataframe_spark.plans.round6 import INCREMENTAL_ROLLUP_SQL

    return INCREMENTAL_ROLLUP_SQL


ROLLUP_SERVE_ONLY_SQL = _rollup_serve_sql()


# ================================= partitioned rollup (dynamic overwrite)
def incremental_rollup_partitioned(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The SECOND write-back mechanism: day-PARTITIONED rollup state
    maintained by DYNAMIC PARTITION OVERWRITE — for time-keyed state
    the production-preferred shape next to the bucketed swap
    (swap_versioned rewrites the whole table per generation; the
    partitioned form rewrites only the day partitions the batch
    touches, and the overwrite is atomic per partition).

    Two generations run against the same state (corpus → +Monday →
    +Tuesday, event_id % 10 split as in the chain query).  The merge
    plan must show Catalyst's DYNAMIC PARTITION PRUNING subquery on
    the state scan (``dynamicpruningexpression``) — the machine
    evidence that at 100 TB a refresh reads O(touched partitions) of
    state, not years of history; the write side touches the same
    partitions only (``partitionOverwriteMode=dynamic``).

    Oracle (maximal, same as the bucketed chain): the final state
    must equal a full GROUP BY over ALL events.
    """
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_partitioned,
        incremental_rollup_overwrite,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    monday = e.filter(F.col("event_id") % 10 == 0)
    tuesday = e.filter(F.col("event_id") % 10 == 1)

    with _temp_db(spark, "ldf_r7_rollpart") as db:
        build_rollup_partitioned(spark, corpus, f"{db}.state")
        incremental_rollup_overwrite(spark, f"{db}.state", monday)
        plan = incremental_rollup_overwrite(spark, f"{db}.state", tuesday)
        if "dynamicpruning" not in plan.lower():
            raise AssertionError(
                "partitioned rollup merge did not dynamic-partition-"
                f"prune the state scan:\n{plan}")
        return (spark.table(f"{db}.state")
                .select("day", "event_type", "n", "sum_micro",
                        "min_micro", "max_micro")
                .localCheckpoint(eager=True))


INCREMENTAL_ROLLUP_PARTITIONED_SQL = _rollup_sql()


# ===================================================== index compaction
def ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the persisted-index LIFECYCLE: build → insert ×3 →
    COMPACT → serve.  Every ``insert_into_ivf_index`` append adds a
    file per bucket, so a long-lived index accumulates small files
    (the classic streaming-table pathology — at 100 TB, thousands of
    appends make the probe scan open-file-bound instead of byte-bound).
    Compaction is ``swap_versioned`` with the table's own content:
    one read + one bucketBy write of a fresh generation under the
    same spec, then the catalog-atomic view repoint — restoring one
    file per bucket while preserving co-location, with no
    reader-visible gap (a serving index is exactly the table a
    concurrent reader hits mid-maintenance).

    The query asserts the compaction actually shrank the LIVE file
    count AND that the post-compaction search still reads
    ``Bucketed: true`` — then returns the search, whose oracle (IVF
    over all embeddings) proves the rewrite lossless.
    """
    import glob as _glob

    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        insert_into_ivf_index,
        ivf_search_persisted,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 4 == 3)
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # fixed query sample — see pipeline_queries._ANN_QUERY_ID_CAP
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))

    # manual db setup (not _temp_db) — the file-count assertion needs
    # the table directory, which is {db location}/{table} for managed
    # tables and survives the rename (rename moves the dir back)
    db = f"ldf_r7_anncompact_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="ldf_r7_anncompact_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        build_ivf_index(spark, corpus, cen, f"{db}.ivf")
        for i in range(3):
            insert_into_ivf_index(spark, e.filter(F.col("vec_id") % 4 == i),
                                  f"{db}.ivf")

        def nfiles() -> int:
            # the LIVE generation's files — versioned physicals live
            # in ivf_assign__g{n} directories under the db location
            return len(_glob.glob(os.path.join(loc, "ivf_assign__g*",
                                               "part-*")))

        # 4 file generations (build + 3 appends) → ~4 files/bucket
        before = nfiles()
        swap_versioned(spark, read_bucketed(spark, f"{db}.ivf_assign"),
                       f"{db}.ivf_assign", ["centroid_id"],
                       num_buckets=16)
        after = nfiles()
        if after >= before:
            raise AssertionError(
                f"index compaction did not reduce files: {before} → {after}")
        # broadcast off so the probe join exercises the bucketed scan
        # (with AQE broadcast the bucket layout is simply unused and
        # the scan prints Bucketed: false) — r06 ann_persisted_search
        # convention
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = ivf_search_persisted(spark, q, f"{db}.ivf", k=5, n_probe=2)
        plan = _plan_of(out, "formatted")
        if "Bucketed: true" not in plan:
            raise AssertionError(
                "post-compaction search lost bucket awareness:\n" + plan)
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


ANN_INDEX_COMPACT_SQL = _ann_serve_sql()


# ================================== streaming ingest chain (index grows)
def stream_dedup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest loop CLOSED: r06's ``stream_dedup_vs_index``
    checked every micro-batch against an IMMUTABLE corpus index; here
    each admitted batch is INSERTED into the index inside the same
    ``foreachBatch`` (dedup.insert_into_minhash_index, bucket-spec-
    preserving append), so batch i is near-dup-checked against
    corpus ∪ batches<i — duplicates ARRIVING WITHIN the stream are
    caught, not just duplicates of the standing corpus.

    Rig: three staged single-file micro-batches (controlled mtimes +
    maxFilesPerTrigger=1 ⇒ deterministic trigger order) partition
    today's docs by floor(doc_id/10) % 3.  Per batch: gate against
    the index, append results, insert the batch.  Per-batch cost is
    O(batch + collisions) — the corpus is scanned by no batch, and
    the index grows by exactly the admitted rows.

    Oracle: with stage(corpus) = −1 and stage(batch i) = i, the
    drained union is exactly the near-dup pairs whose endpoints sit
    in DIFFERENT stages, oriented (lower stage, higher stage) —
    batch-internal pairs of one micro-batch are out of scope by
    design (same contract as r06; the one-shot incremental_dedup
    states it for a single batch).
    """
    import glob as _glob
    import time as _time

    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
        insert_into_minhash_index,
    )
    from legate_dataframe_spark.plans.round4 import _stage_single_file

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    with _temp_db(spark, "ldf_r7_sdchain") as db:
        build_minhash_index(spark, corpus, f"{db}.corpus")
        stage = tempfile.mkdtemp(prefix="ldf_r7_sdchain_stage_")
        outdir = tempfile.mkdtemp(prefix="ldf_r7_sdchain_out_")
        ck = tempfile.mkdtemp(prefix="ldf_r7_sdchain_ck_")
        try:
            now = _time.time()
            for i in range(3):
                _stage_single_file(
                    batch.filter(F.floor(F.col("doc_id") / 10) % 3 == i),
                    stage, f"b{i}.parquet", now - 300 + i * 100)
            stream = (spark.readStream.schema(batch.schema)
                      .option("maxFilesPerTrigger", 1).parquet(stage))

            def gate_and_admit(batch_df: DataFrame, batch_id: int) -> None:
                # Exactly-once guard (ADVICE r07): foreachBatch gives
                # at-least-once delivery, so a retry of a processed
                # batch must be a no-op — otherwise the append re-emits
                # the batch's pairs AND re-inserts its band/shingle
                # rows into the index.  (a) a batch whose marker exists
                # is skipped outright; (b) the pair output goes to a
                # per-batch_id directory in OVERWRITE mode, so a retry
                # of a partially-written batch replaces rather than
                # duplicates.  Residual window: a crash between the
                # index insert and the marker write re-inserts on
                # retry — closing that needs a transactional table
                # format; documented, not hidden.
                done = os.path.join(ck, f"ldf_batch_{batch_id}.done")
                if os.path.exists(done):
                    return
                # foreachBatch runs on a CLONED SparkSession whose
                # relation cache still holds the file listing from the
                # previous gate — refresh both index tables there or
                # this batch silently misses every row the last batch
                # inserted (observed: batch-0↔batch-2 pair dropped).
                # The index names are stable views now; the listing
                # cache is keyed on the PHYSICAL generation table, so
                # resolve and refresh that.
                from legate_dataframe_spark.core.bucketing import (
                    current_generation_table,
                )
                sess = batch_df.sparkSession
                for t in (f"{db}.corpus_bands", f"{db}.corpus_shingles"):
                    sess.catalog.refreshTable(
                        current_generation_table(sess, t))
                frozen = batch_df.localCheckpoint(eager=True)
                (incremental_minhash_dedup(sess, frozen, f"{db}.corpus")
                 .write.mode("overwrite")
                 .parquet(os.path.join(outdir, f"b{batch_id}")))
                insert_into_minhash_index(sess, frozen, f"{db}.corpus")
                open(done, "w").close()

            q = (stream.writeStream.outputMode("append")
                 .foreachBatch(gate_and_admit)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            finished = q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            if not finished:
                q.stop()
                raise TimeoutError("stream_dedup_chain drain > 300s")
            if not _glob.glob(f"{outdir}/b*/*.parquet"):
                return spark.createDataFrame(
                    [], "corpus_id: bigint, batch_id: bigint, jaccard: double")
            return (spark.read
                    .option("recursiveFileLookup", "true")
                    .parquet(outdir).localCheckpoint(eager=True))
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(outdir, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


def _stream_dedup_chain_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import _lsh_cand_ctes

    # stage(id): −1 for corpus docs, else the micro-batch number; a
    # pair is reported iff its endpoints sit in different stages,
    # oriented (earlier, later) — exactly what "each batch checked
    # against corpus ∪ earlier batches" produces
    return "WITH " + _lsh_cand_ctes() + """,
staged AS (
  SELECT id_a, id_b,
         CASE WHEN id_a % 10 != 0 THEN -1
              ELSE CAST(floor(id_a / 10) AS BIGINT) % 3 END AS sa,
         CASE WHEN id_b % 10 != 0 THEN -1
              ELSE CAST(floor(id_b / 10) AS BIGINT) % 3 END AS sb
  FROM cand),
cross_pairs AS (
  SELECT CASE WHEN sa < sb THEN id_a ELSE id_b END AS corpus_id,
         CASE WHEN sa < sb THEN id_b ELSE id_a END AS batch_id
  FROM staged WHERE sa != sb),
v AS (
  SELECT p.corpus_id, p.batch_id,
         list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb
  FROM cross_pairs p
  JOIN shg a ON a.id = p.corpus_id
  JOIN shg b ON b.id = p.batch_id)
SELECT corpus_id, batch_id, jaccard FROM (
  SELECT corpus_id, batch_id,
         round(len(list_intersect(sa, sb))
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
           AS jaccard
  FROM v)
WHERE jaccard >= 0.5
"""


STREAM_DEDUP_CHAIN_SQL = _stream_dedup_chain_sql()
