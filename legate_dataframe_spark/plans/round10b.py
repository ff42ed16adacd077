"""Round-10 continuation queries — the platform-closure set.

Nine entries that close loops the earlier rounds opened.  The first
four:

- ``cdf_apply_roundtrip`` — the CONSUMER half of the change-data
  feed: ``generation_diff`` produces a diff, ``apply_diff`` applies
  it to the old snapshot, and the reconstruction must equal the new
  generation exactly (asserted in-query both directions, then
  oracle-checked).  This is the algebraic contract a downstream
  mirror/replica relies on.

- ``manifest_bloom_lookup`` — EQUALITY file pruning from the
  manifest: per-file Bloom bitmaps recorded at commit time let a
  batched point lookup plan bucket→bloom-pruned file lists (the case
  min/max ranges cannot prune: every append batch spans the full key
  domain).  The final key equi-join keeps the answer exact despite
  bloom false positives.

- ``takedown_cascade`` — the cross-state deletion request as ONE
  platform operation: a doc set is removed from the minhash index,
  the components labelling (bounded re-cluster off the post-delete
  index), and the BM25 postings, then the takedown-compliant vacuum
  retires every pre-delete snapshot; a compliance audit counts the
  deleted ids across EVERY retained generation of EVERY touched view
  and must read zero everywhere.

- ``swap_contention`` — the two-writer race made deterministic,
  under the r11 commit-marker CAS: a competitor racing inside the
  victim's claim-to-publish window loses AT CLAIM TIME (before its
  own generation write; the claimed slot is never overwritten), then
  retries cleanly against the victim's commit — so BOTH batches
  land.  A captured-DataFrame retry (the bug the factory contract
  exists to prevent) would lose a batch and fail the oracle.

Then the rest of the set: ``substring_dup_spans`` (span-level
exact-substring dedup), ``incremental_substring_spans`` (the same
signal as an ingest gate off a persisted k-gram index, with the
exact-fold law), ``stream_substring_chain`` (its streaming form with
O(batch) delta admits), ``export_shards`` (size-bounded shard export
certified from its own footers), and ``rollup_timetravel_asof``
(AS-OF timestamp time travel over the stamped commit timeline).

Catalog hygiene matches round-7..10: uuid-suffixed session-temp
databases dropped (CASCADE) before returning.
"""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.pipeline_queries import (
    _BANDS,
    _NUM_HASHES,
    _minhash_sql,
)
from legate_dataframe_spark.plans.relational import load_table

_MICRO_SQL = "CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)"


def _plan_of(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def bag_diff_counts(left: DataFrame,
                    right: DataFrame) -> tuple[int, int]:
    """(#rows of ``left`` not in ``right``, #rows of ``right`` not in
    ``left``), with multiplicity — exactly
    ``left.exceptAll(right).count()`` / ``right.exceptAll(left).count()``
    — but off ONE evaluation of each side and ONE action: tag rows ±1,
    aggregate the signed residue per distinct row value, sum the
    positive and negative residues.  (The two-``exceptAll`` form plans
    each input twice and runs two jobs; the exact-fold asserts feed it
    a corpus-sized digest build as one side, so that form doubled the
    assert's dominant cost.)  Columns are matched by ``left``'s order,
    nulls compare equal — both exactly as ``exceptAll`` does."""
    cols = left.columns
    w = F.col("__w")
    residue = (left.select(*cols).withColumn("__w", F.lit(1))
               .unionByName(
                   right.toDF(*cols).withColumn("__w", F.lit(-1)))
               .groupBy(*cols).agg(F.sum("__w").alias("__w"))
               .select(
                   F.sum(F.when(w > 0, w).otherwise(F.lit(0)))
                   .alias("a"),
                   F.sum(F.when(w < 0, -w).otherwise(F.lit(0)))
                   .alias("b"))
               .collect()[0])
    return int(residue["a"] or 0), int(residue["b"] or 0)


@contextlib.contextmanager
def _temp_db(spark: SparkSession, stem: str):
    """uuid-suffixed session-temp database (ADVICE r05: fixed names +
    DROP CASCADE clobber concurrent runs sharing a warehouse)."""
    db = f"{stem}_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix=f"{stem}_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        yield db
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


def _assert_bucketed(plan: str, what: str) -> None:
    if "Bucketed: true" not in plan:
        raise AssertionError(
            f"{what} did not read the index bucket-aware:\n{plan}")


# ===================== change-data-feed APPLY (producer↔consumer law)
def cdf_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF round trip: generation 0 is the rollup over events WITHOUT
    'click' rows; generation 1 drops 'view' rows and every
    event_id % 7 == 0 row — so the diff carries all three change
    classes (click groups insert, view groups delete, shared groups
    update; asserted).  ``apply_diff(g0, diff(g0, g1))`` must then
    reconstruct generation 1 EXACTLY — asserted in-query with
    exceptAll in both directions, and the reconstruction itself is
    the returned frame the oracle recomputes from raw events.  Scale
    shape: the diff is change-sized — AQE broadcasts it into the
    anti-join when small, and the bucketed base joins in place
    otherwise; the state never shuffles."""
    from legate_dataframe_spark.core.bucketing import (
        apply_diff,
        generation_diff,
        init_versioned,
        read_generation,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        _PARTIALS,
        GROUP_KEYS,
        event_partials,
    )

    e = load_table(spark, sf_dir, "events")
    old_slice = e.filter(F.col("event_type") != "click")
    new_slice = e.filter((F.col("event_type") != "view")
                         & (F.col("event_id") % 7 != 0))
    with _temp_db(spark, "ldf_r10_cdfapply") as db:
        state = f"{db}.state"
        init_versioned(spark, event_partials(old_slice), state,
                       GROUP_KEYS, num_buckets=16)
        swap_versioned(spark, event_partials(new_slice), state,
                       GROUP_KEYS, num_buckets=16, keep_old=True)
        diff = generation_diff(spark, state, 0, 1, GROUP_KEYS,
                               _PARTIALS).localCheckpoint(eager=True)
        classes = {r["change_type"] for r in
                   diff.select("change_type").distinct().collect()}
        if classes != {"insert", "delete", "update"}:
            raise AssertionError(
                f"diff scenario lost a change class: {classes}")
        recon = apply_diff(read_generation(spark, state, 0), diff,
                           GROUP_KEYS, _PARTIALS)
        recon = recon.localCheckpoint(eager=True)
        live = read_generation(spark, state, 1)
        missing, phantom = bag_diff_counts(live, recon)
        if missing or phantom:
            raise AssertionError(
                f"apply_diff did not reconstruct generation 1: "
                f"{missing} rows missing, {phantom} phantom rows")
        return recon.select(F.col("day").cast("timestamp").alias("day"),
                            "event_type", *_PARTIALS)


CDF_APPLY_ROUNDTRIP_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       {_MICRO_SQL} AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
WHERE event_type != 'view' AND event_id % 7 != 0
GROUP BY 1, 2
"""


# ===================== bloom-pruned point lookup from the manifest
def manifest_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point lookup planned ENTIRELY from manifest metadata: a
    view-routed bucketed document state takes three bucket-preserving
    appends (each accretes one file per bucket; every batch spans the
    full doc_id domain, so min/max stats CANNOT prune across them),
    and the manifest records a per-file Bloom bitmap at each commit
    (incremental — only the new files' rows are read).  A FIXED probe
    batch (doc_id % 13 == 0 below 500 — the ANN fixed-query-sample
    contract: a point-lookup workload does not grow with the corpus)
    plans its read as bucket-equi-join + bloom bit test: every probe
    key is found (asserted — this also pins the recomputed bucket-id
    arithmetic to Spark's own bucket hash), and candidates average ~1
    file per probe instead of the whole bucket (asserted < 2×) — so
    the files READ are bounded by the probe count at ANY table size,
    which is the point-lookup scale claim.  The final equi-join on
    doc_id keeps the answer exact despite bloom false positives.
    Oracle: the probed rows straight off the documents table."""
    from legate_dataframe_spark.core import manifest as mf
    from legate_dataframe_spark.core.bucketing import (
        append_versioned,
        init_versioned,
    )

    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "n_chars"))
    nb = 8
    with _temp_db(spark, "ldf_r10_bloomlk") as db:
        view = f"{db}.docs"
        # manifest options ride INSIDE every versioned write (the
        # commit-time contract): already-recorded files keep their
        # rows and blooms; each append's refresh reads only the new
        # files' rows.  bloom_bits is sized from EXPECTED rows per
        # file (~10 bits/key ≈ 1% fp with 3 hashes — ADVICE r10: a
        # fixed 4096-bit bitmap saturates as rows-per-file grow with
        # sf, and a saturated bloom prunes nothing), so the
        # ~1-candidate-per-probe assertion below holds at ANY table
        # size; 4 batches × nb one-file-per-bucket writes
        per_file = max(1, d.count() // (4 * nb))
        bits = max(1 << 12, -64 * (-(10 * per_file) // 64))
        blooms = {"bloom_col": "doc_id", "bloom_bits": bits}
        init_versioned(spark, d.filter(F.col("doc_id") % 4 == 1),
                       view, ["doc_id"], num_buckets=nb,
                       manifest=blooms)
        for k in (2, 3, 0):
            append_versioned(spark,
                             d.filter(F.col("doc_id") % 4 == k)
                             .repartition(nb, "doc_id"),
                             view, ["doc_id"], num_buckets=nb,
                             manifest=blooms)
        probes = d.filter((F.col("doc_id") % 13 == 0)
                          & (F.col("doc_id") < 500)).select("doc_id")
        cand = mf.point_lookup_candidates(
            spark, view, probes, "doc_id", num_buckets=nb,
            generation=0).localCheckpoint(eager=True)
        n_probes = probes.count()
        n_found = cand.select("doc_id").distinct().count()
        if n_found != n_probes:
            raise AssertionError(
                f"point lookup lost keys: {n_found}/{n_probes} probes "
                "have a candidate file — bucket-id derivation broke")
        n_pairs = cand.count()
        if n_pairs >= 2 * n_probes:
            raise AssertionError(
                f"bloom did not prune: {n_pairs} candidate pairs for "
                f"{n_probes} probes (bucket-only pruning would give "
                f"~4 files per probe)")
        files = sorted({r["file"] for r in
                        cand.select("file").distinct().collect()})
        if not files:
            raise AssertionError("lookup planned zero files")
        rows = mf.read_from_manifest(spark, view, files,
                                     schema=spark.table(view).schema)
        out = (rows.join(F.broadcast(probes), "doc_id")
               .select("doc_id", "lang", "n_chars"))
        return out.localCheckpoint(eager=True)


MANIFEST_BLOOM_LOOKUP_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 13 = 0 AND doc_id < 500
"""


# ===================== cross-state takedown as ONE platform operation
def takedown_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion request end to end: build all three text-side
    serving states over ALL documents (minhash index, components
    labelling from its pairs, BM25 postings), then remove the
    doc_id % 10 == 0 set with ONE ``takedown_documents`` call —
    deletes in the documented safe order with per-state snapshot
    retention, then the takedown-compliant vacuum retires every
    pre-delete generation.  The compliance audit
    (``retained_occurrences``) then counts the deleted ids across
    EVERY retained generation of EVERY touched view — zero everywhere,
    and exactly one retained generation per view, both asserted.
    Returns one row per state with its surviving cardinality
    (minhash pair count, BM25 distinct docs, labelled nodes); the
    oracle recomputes all three from documents MINUS the deleted set
    — a row the cascade failed to remove (or over-removed) flips a
    count."""
    from legate_dataframe_spark.core.bucketing import list_generations
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
    )
    from legate_dataframe_spark.pipeline.takedown import (
        retained_occurrences,
        takedown_documents,
    )
    from legate_dataframe_spark.pipeline.text import build_bm25_index

    d = load_table(spark, sf_dir, "documents")
    gone = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    with _temp_db(spark, "ldf_r10_takedown") as db:
        idx, labels, bm = f"{db}.idx", f"{db}.labels", f"{db}.bm"
        dedup.build_minhash_index(spark, d, idx,
                                  num_hashes=_NUM_HASHES, bands=_BANDS)
        pairs = dedup.minhash_pairs_from_index(
            spark, idx, jaccard_threshold=0.5).select("id_a", "id_b")
        build_components_index(spark, pairs, labels)
        build_bm25_index(spark, d, bm)
        views = takedown_documents(
            spark, gone,
            minhash_prefix=idx,
            components_labels=labels,
            pairs_among=lambda ids: dedup.minhash_pairs_from_index(
                spark, idx, jaccard_threshold=0.5, restrict_ids=ids)
            .select("id_a", "id_b"),
            bm25_prefix=bm)
        audit_cols = {f"{idx}_shingles": "id", f"{idx}_bands": "id",
                      labels: "node", f"{bm}_postings": "doc_id"}
        audit = retained_occurrences(spark, audit_cols, gone).collect()
        leaks = [(r["state"], r["generation"], r["n_matching"])
                 for r in audit if r["n_matching"] != 0]
        if leaks:
            raise AssertionError(
                f"taken-down ids still present: {leaks}")
        for v in views:
            gens = list_generations(spark, v)
            if len(gens) != 1:
                raise AssertionError(
                    f"{v} retains {gens} — compliance vacuum must "
                    "leave exactly the live generation")
        n_pairs = dedup.minhash_pairs_from_index(
            spark, idx, jaccard_threshold=0.5).count()
        n_docs = (spark.table(f"{bm}_postings")
                  .select("doc_id").distinct().count())
        n_nodes = spark.table(labels).count()
        return spark.createDataFrame(
            [("minhash_pairs", n_pairs), ("bm25_docs", n_docs),
             ("components_nodes", n_nodes)], "state string, n long")


def _takedown_cascade_sql() -> str:
    filtered = _minhash_sql(
        "(SELECT * FROM documents WHERE doc_id % 10 != 0)")
    return rf"""
WITH RECURSIVE pairs AS ({filtered}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
),
labels AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE doc_id % 10 != 0)
SELECT 'minhash_pairs' AS state, count(*) AS n FROM pairs
UNION ALL
SELECT 'bm25_docs' AS state, count(DISTINCT doc_id) AS n FROM tok
UNION ALL
SELECT 'components_nodes' AS state, count(*) AS n FROM labels
"""


TAKEDOWN_CASCADE_SQL = _takedown_cascade_sql()


# ===================== two-writer swap race, deterministic
def swap_contention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concurrent-maintainer race under the r11 COMMIT-MARKER CAS
    (an O_EXCL marker file per generation — a true cross-session
    compare-and-swap on a posix warehouse, claimed BEFORE the
    generation write): writer A merges batch A and claims the
    ``g1`` slot; a competitor fires inside A's window (via the
    bucketing module's injection hook — the same window a
    cross-session writer the per-view lock cannot see would land in)
    and must lose AT CLAIM TIME with ``ConcurrentSwapError`` — before
    paying its own generation write, and without ever overwriting A's
    claimed ``__g1`` slot (the r10 residual this closes: under the
    pointer-recheck-only CAS both writers wrote the same physical
    slot and the loser's data could be published under the winner's
    repoint).  A then publishes g1; the competitor's RETRY re-plans
    its merge against A's commit and lands g2 — so BOTH batches land
    (the loss message, the retry's single clean attempt, and the
    final generation all asserted).  The oracle is the full GROUP BY
    over all events — a lost batch on either side fails the hash."""
    from legate_dataframe_spark.core import bucketing
    from legate_dataframe_spark.core.bucketing import (
        ConcurrentSwapError,
        _view_generation,
        init_versioned,
        swap_versioned,
        swap_versioned_retrying,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        _PARTIALS,
        GROUP_KEYS,
        event_partials,
        incremental_rollup_update,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    batch_a = e.filter(F.col("event_id") % 10 == 0)
    batch_b = e.filter(F.col("event_id") % 10 == 1)
    with _temp_db(spark, "ldf_r10_race") as db:
        view = f"{db}.state"
        init_versioned(spark, event_partials(corpus), view,
                       GROUP_KEYS, num_buckets=16)
        losses: list[str] = []

        def competitor() -> None:
            # fires ONCE, inside the victim's claim-to-publish
            # window; models a cross-session maintainer racing the
            # same slot — the marker must reject it pre-write
            bucketing._TEST_PRE_CAS_HOOK = None
            try:
                swap_versioned(spark,
                               incremental_rollup_update(spark, view,
                                                         batch_b),
                               view, GROUP_KEYS, num_buckets=16)
            except ConcurrentSwapError as ex:
                losses.append(str(ex))

        bucketing._TEST_PRE_CAS_HOOK = competitor
        try:
            swap_versioned(spark,
                           incremental_rollup_update(spark, view,
                                                     batch_a),
                           view, GROUP_KEYS, num_buckets=16)
        finally:
            bucketing._TEST_PRE_CAS_HOOK = None
        if len(losses) != 1 or "claimed" not in losses[0]:
            raise AssertionError(
                f"competitor should have lost at marker-claim time, "
                f"got: {losses}")
        if _view_generation(spark, view) != 1:
            raise AssertionError(
                "victim's publish did not land at generation 1")
        attempts = swap_versioned_retrying(
            spark,
            lambda: incremental_rollup_update(spark, view, batch_b),
            view, GROUP_KEYS, num_buckets=16)
        if attempts != 1:
            raise AssertionError(
                f"post-race retry should be clean, took {attempts}")
        gen = _view_generation(spark, view)
        if gen != 2:
            raise AssertionError(
                f"final generation {gen} != 2 — the retry did not "
                "build on the victim's commit")
        return (spark.table(view)
                .select(F.col("day").cast("timestamp").alias("day"),
                        "event_type", *_PARTIALS)
                .localCheckpoint(eager=True))


SWAP_CONTENTION_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       {_MICRO_SQL} AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
GROUP BY 1, 2
"""


# ===================== exact-substring duplication spans
def substring_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup signal (Lee et al.,
    arXiv:2107.06499): per document, how many token positions sit
    inside an 8-token run that appears VERBATIM in another document —
    the memorization-risk fraction document-level dedup misses.
    Implementation is the shuffle-native suffix-array stand-in: any
    shared run of ≥8 tokens contains a shared 8-gram, so 8-gram
    coverage marks every such run.  One digest groupBy is the only
    corpus-sized exchange; duplicated shingles (not all shingles)
    pay the ×k position explode.  Oracle: the identical k-gram
    coverage arithmetic in DuckDB over the same tokenization."""
    from legate_dataframe_spark.pipeline.dedup import substring_dup_spans

    d = load_table(spark, sf_dir, "documents")
    return substring_dup_spans(d, k=8)


SUBSTRING_DUP_SPANS_SQL = r"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
kg AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM tokens, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
dup AS (SELECT dig FROM kg GROUP BY dig HAVING count(DISTINCT doc_id) > 1),
cover AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN dup USING (dig), unnest(generate_series(0, 7)) AS o(off)),
cov AS (SELECT doc_id, count(*) AS covered_tokens FROM cover
        GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round(coalesce(c.covered_tokens, 0) / len(t.ts), 6) AS dup_ratio
FROM tokens t LEFT JOIN cov c USING (doc_id)
"""


# ===================== size-bounded training-shard export
def export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST step of a training-data pipeline: export the corpus as
    SIZE-BOUNDED shards a downstream loader can stream (trainers want
    many same-sized files, not one file per Spark task).  The write
    uses ``maxRecordsPerFile`` (each task rolls a new file at the
    cap); the cap contract is then CERTIFIED from the files' own
    footers — the one listing the writer owns, metadata-only, no
    re-scan (asserted: every shard ≤ cap, shard count ≥ ⌈n/cap⌉) —
    and the exported set is read back as an EXPLICIT file list (the
    manifest pattern: a downstream loader gets file paths, not a
    directory to walk).  Oracle: per-language doc count, char mass,
    and id range over the source table — a dropped, truncated, or
    doubled shard flips them."""
    import math

    from legate_dataframe_spark.core import manifest as mf
    from legate_dataframe_spark.sources.parquet import parquet_write

    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "n_chars"))
    cap = 120
    out_dir = tempfile.mkdtemp(prefix="ldf_r10_shards_")
    try:
        parquet_write(d.repartition(4), out_dir,
                      max_records_per_file=cap)
        rows = mf.dir_file_rows(out_dir)
        if not rows:
            raise AssertionError("export wrote no shards")
        oversized = {p: n for p, n in rows.items() if n > cap}
        if oversized:
            raise AssertionError(
                f"shards exceed the {cap}-row cap: {oversized}")
        total = sum(rows.values())
        if len(rows) < math.ceil(total / cap):
            raise AssertionError(
                f"{len(rows)} shards cannot hold {total} rows under "
                f"the {cap}-row cap")
        back = mf.read_from_manifest(spark, out_dir,
                                     sorted(rows), schema=d.schema)
        out = (back.groupBy("lang")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_chars").alias("sum_chars"),
                    F.min("doc_id").alias("min_doc"),
                    F.max("doc_id").alias("max_doc")))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


EXPORT_SHARDS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


# ===================== AS-OF timestamp time travel
def rollup_timetravel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel BY TIMESTAMP over a stamped commit timeline — the
    AS OF surface table formats put on top of snapshot ids: three
    stamped generations (build Feb 1, fold batch A Feb 10, fold batch
    B Feb 20), then ``read_asof('… Feb 15 …')`` must resolve the
    Feb-10 snapshot (corpus ∪ A, the returned frame), an AS-OF before
    the first commit must raise (the state did not exist), an AS-OF
    after the last must equal the live view (asserted), and after a
    keep_last=2 vacuum the Feb-1 snapshot's commit row is pruned so
    the same early AS-OF now raises the clean no-generation error —
    retention decides how far back AS OF reaches (snapshot expiry).
    Oracle: full GROUP BY over corpus ∪ batch A."""
    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        read_asof,
        swap_versioned,
        vacuum_generations,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        _PARTIALS,
        GROUP_KEYS,
        event_partials,
        incremental_rollup_update,
    )

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    batch_a = e.filter(F.col("event_id") % 10 == 0)
    batch_b = e.filter(F.col("event_id") % 10 == 1)
    with _temp_db(spark, "ldf_r10_asof") as db:
        view = f"{db}.state"
        init_versioned(spark, event_partials(corpus), view, GROUP_KEYS,
                       num_buckets=16,
                       committed_at="2024-02-01 00:00:00")
        swap_versioned(spark,
                       incremental_rollup_update(spark, view, batch_a),
                       view, GROUP_KEYS, num_buckets=16, keep_old=True,
                       committed_at="2024-02-10 00:00:00")
        swap_versioned(spark,
                       incremental_rollup_update(spark, view, batch_b),
                       view, GROUP_KEYS, num_buckets=16, keep_old=True,
                       committed_at="2024-02-20 00:00:00")
        try:
            read_asof(spark, view, "2024-01-15 00:00:00")
        except ValueError:
            pass
        else:
            raise AssertionError(
                "AS-OF before the first commit must raise")
        live_n = spark.table(view).count()
        if read_asof(spark, view, "2024-03-01 00:00:00").count() \
                != live_n:
            raise AssertionError(
                "AS-OF after the last commit must equal the live view")
        mid = read_asof(spark, view, "2024-02-15 00:00:00")
        mid = (mid.select(F.col("day").cast("timestamp").alias("day"),
                          "event_type", *_PARTIALS)
               .localCheckpoint(eager=True))  # BEFORE the vacuum
        dropped = vacuum_generations(spark, view, keep_last=2)
        if dropped != [0]:
            raise AssertionError(
                f"vacuum dropped {dropped}, expected [0]")
        try:
            read_asof(spark, view, "2024-02-05 00:00:00")
        except ValueError:
            pass  # the Feb-1 commit row was pruned with its snapshot
        else:
            raise AssertionError(
                "AS-OF into vacuumed history must raise the clean "
                "no-generation error")
        return mid


ROLLUP_TIMETRAVEL_ASOF_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n,
       {_MICRO_SQL} AS sum_micro,
       min(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micro,
       max(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micro
FROM events
WHERE event_id % 10 >= 2 OR event_id % 10 = 0
GROUP BY 1, 2
"""


# ===================== incremental substring-span gate + index fold
def incremental_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-span signal as an INGEST GATE: the corpus's
    k-gram digests are a persisted bucketed index (build paid once);
    a disjoint batch is span-gated against corpus ∪ batch WITHOUT
    rescanning the corpus — duplicated iff the digest is in the index
    or shared by ≥2 batch docs.  The gate's state-side semi-join must
    read ``Bucketed: true`` with broadcast disabled (asserted).  The
    admitted batch then FOLDS into the index through the atomic swap,
    and the folded index is asserted row-identical to a fresh build
    over corpus ∪ batch (exceptAll both ways — the exact-fold law).
    Oracle: the full substring_dup_spans recompute over ALL documents,
    restricted to the batch — for a corpus-disjoint batch the gate's
    numbers are identical by construction."""
    from legate_dataframe_spark.pipeline.dedup import (
        _doc_kgrams,
        batch_substring_spans,
        build_substring_index,
        insert_into_substring_index,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    with _temp_db(spark, "ldf_r10_substr") as db:
        idx = f"{db}.idx"
        build_substring_index(spark, corpus, idx, k=8)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_abs = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # pin the bucketed scan ON (autoBucketedScan may drop it
            # when the session's shuffle-partition count disagrees
            # with the bucket count — the co-location claim is about
            # the LAYOUT, so assert it with the scan pinned, exactly
            # as _write_generation pins it for writes)
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
            out = batch_substring_spans(spark, batch, idx, k=8)
            plan = _plan_of(out)
            if "Bucketed: true" not in plan:
                raise AssertionError(
                    "substring gate did not read the k-gram index "
                    "bucket-aware:\n" + plan)
            out = out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           prev_bc)
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                prev_abs)
        insert_into_substring_index(spark, batch, idx, k=8)
        # exact-fold law: folded index == fresh build over corpus∪batch
        _, kg_all = _doc_kgrams(d, "text", "doc_id", 8)
        fresh = (kg_all.select("dig", "doc_id").distinct()
                 .groupBy("dig")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
        folded = spark.table(f"{idx}_kgrams")
        # one evaluation of each side (fresh is a corpus-sized digest
        # build — the two-exceptAll form ran it twice)
        a, b = bag_diff_counts(folded, fresh)
        if a or b:
            raise AssertionError(
                f"index fold drifted from a fresh build: "
                f"{a} extra, {b} missing digest rows")
        return out


INCREMENTAL_SUBSTRING_SPANS_SQL = (
    f"SELECT * FROM ({SUBSTRING_DUP_SPANS_SQL}) WHERE doc_id % 10 = 0")


# ===================== streaming substring gate + O(batch) admit
def stream_substring_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring gate as a CLOSED streaming loop — the span twin
    of ``stream_dedup_chain``: three staged micro-batches each get
    span-gated against corpus ∪ earlier batches off the persisted
    k-gram index, then ADMITTED via the O(batch) delta append
    (``append_substring_delta`` — partial (dig, n_docs) rows into the
    live generation; the gate is membership-based, so partials serve
    it unchanged, and the swap-based fold is this path's COMPACTION).
    Batch i therefore flags spans shared with corpus ∪ batches<i,
    plus intra-batch duplication — duplicates ARRIVING WITHIN the
    stream are caught.  After the drain, the index's aggregated
    counts are asserted row-identical to a fresh build over
    corpus ∪ all batches (the exact-fold law over partials).
    Exactly-once rig carries the r07 lessons: batch_id markers,
    per-batch overwrite output dirs, per-trigger relation-cache
    refresh of the live physical generation.  Oracle: stage-ordered
    span semantics in SQL — a batch k-gram is duplicated iff its
    digest occurs at a LOWER stage (corpus = −1) or ≥2 distinct docs
    share it at the SAME stage."""
    import glob as _glob
    import os as _os
    import time as _time

    from legate_dataframe_spark.core.bucketing import (
        current_generation_table,
    )
    from legate_dataframe_spark.pipeline.dedup import (
        _doc_kgrams,
        append_substring_delta,
        batch_substring_spans,
        build_substring_index,
    )
    from legate_dataframe_spark.plans.round4 import _stage_single_file

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    todays = d.filter(F.col("doc_id") % 10 == 0)
    with _temp_db(spark, "ldf_r10_sschain") as db:
        idx = f"{db}.idx"
        build_substring_index(spark, corpus, idx, k=8)
        stage = tempfile.mkdtemp(prefix="ldf_r10_sschain_stage_")
        outdir = tempfile.mkdtemp(prefix="ldf_r10_sschain_out_")
        ck = tempfile.mkdtemp(prefix="ldf_r10_sschain_ck_")
        try:
            now = _time.time()
            for i in range(3):
                _stage_single_file(
                    todays.filter(
                        F.floor(F.col("doc_id") / 10) % 3 == i),
                    stage, f"b{i}.parquet", now - 300 + i * 100)
            stream = (spark.readStream.schema(todays.schema)
                      .option("maxFilesPerTrigger", 1).parquet(stage))

            def gate_and_admit(batch_df: DataFrame,
                               batch_id: int) -> None:
                done = _os.path.join(ck, f"ldf_batch_{batch_id}.done")
                if _os.path.exists(done):
                    return
                sess = batch_df.sparkSession
                sess.catalog.refreshTable(
                    current_generation_table(sess, f"{idx}_kgrams"))
                frozen = batch_df.localCheckpoint(eager=True)
                (batch_substring_spans(sess, frozen, idx, k=8)
                 .write.mode("overwrite")
                 .parquet(_os.path.join(outdir, f"b{batch_id}")))
                append_substring_delta(sess, frozen, idx, k=8)
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
                raise TimeoutError("stream_substring_chain drain > 300s")
            parts = sorted(_glob.glob(f"{outdir}/b*"))
            if len(parts) != 3:
                raise AssertionError(
                    f"expected 3 drained batches, saw {parts}")
            # exact-fold law over partials: aggregated index counts ==
            # a fresh build over corpus ∪ all admitted batches
            spark.catalog.refreshTable(
                current_generation_table(spark, f"{idx}_kgrams"))
            folded = (spark.table(f"{idx}_kgrams")
                      .groupBy("dig")
                      .agg(F.sum("n_docs").cast("long").alias("n_docs")))
            _, kg_all = _doc_kgrams(d, "text", "doc_id", 8)
            fresh = (kg_all.select("dig", "doc_id").distinct()
                     .groupBy("dig")
                     .agg(F.count(F.lit(1)).cast("long")
                          .alias("n_docs")))
            # one evaluation of each side (fresh is a corpus-sized
            # digest build — the two-exceptAll form ran it twice)
            a, b = bag_diff_counts(folded, fresh)
            if a or b:
                raise AssertionError(
                    f"streamed delta folds drifted from a fresh "
                    f"build: {a} extra, {b} missing digest rows")
            out = spark.read.parquet(*parts)
            return (out.select("doc_id", "n_tokens", "covered_tokens",
                               "dup_ratio")
                    .localCheckpoint(eager=True))
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(outdir, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


STREAM_SUBSTRING_CHAIN_SQL = r"""
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 != 0 THEN -1
              ELSE CAST((CAST(floor(doc_id / 10) AS BIGINT) % 3) AS INT)
         END AS stage,
         string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
kg AS (
  SELECT doc_id, stage, i AS pos,
         md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM staged, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
per_dig AS (SELECT dig, min(stage) AS min_stage FROM kg GROUP BY dig),
per_ds AS (SELECT dig, stage, count(DISTINCT doc_id) AS nd
           FROM kg GROUP BY dig, stage),
dup_ds AS (
  SELECT ds.dig, ds.stage
  FROM per_ds ds JOIN per_dig pd USING (dig)
  WHERE ds.stage >= 0
    AND (ds.stage > pd.min_stage OR ds.nd >= 2)),
cover AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN dup_ds USING (dig, stage),
  unnest(generate_series(0, 7)) AS o(off)),
cov AS (SELECT doc_id, count(*) AS covered_tokens FROM cover
        GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round(coalesce(c.covered_tokens, 0) / len(s.ts), 6) AS dup_ratio
FROM staged s LEFT JOIN cov c USING (doc_id)
WHERE s.stage >= 0
"""
