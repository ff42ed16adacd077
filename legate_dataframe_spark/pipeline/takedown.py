"""Cross-state document TAKEDOWN orchestration.

Each serving state has its own delete primitive
(dedup.delete_from_minhash_index, text.delete_from_bm25_index,
components.delete_from_components_index), each individually
documented and driver-verified — but a real takedown (GDPR erasure,
a copyright claim, a contaminated shard) is a PLATFORM operation: it
must hit every index the document reached, plus every RETAINED
snapshot that still contains it, or the document stays servable
through whichever surface was forgotten.  This module is the one-call
form of that operation:

- :func:`takedown_documents` runs the per-state deletes in the
  documented safe order — minhash index first (future dedup gates
  stop matching the ids), the components labelling second (its
  bounded re-cluster reads near-dup pairs from the POST-delete
  minhash index), BM25 last (independent of both) — with
  ``keep_old=True`` on every delete so a failure mid-cascade leaves
  each state's pre-delete snapshot intact for forensics/retry; only
  after EVERY delete has committed does the takedown-compliant
  vacuum retire the retained pre-delete generations (a
  state-by-state vacuum interleaved with the deletes would destroy
  the rollback evidence while later deletes could still fail).
- :func:`retained_occurrences` audits the result: one row per
  (state view, retained generation) with the count of rows still
  matching the taken-down ids — zero everywhere is the compliance
  certificate, and it is checked over EVERY retained generation,
  not just the live one (a retained pre-delete snapshot is exactly
  where a "deleted" document hides).

Scale shape: every per-state delete is the broadcast-anti-join
rewrite its own module documents (O(index), batched like
compaction); the vacuum is a catalog drop per generation; the audit
is one semi-join count per retained generation against the broadcast
id list — nothing corpus-sized moves.

The reference has no persisted-index lifecycle to mirror (its Python
layer is a Polars-IR evaluator, python/legate_dataframe; no storage);
this is the platform operation a 100 TB training-data deployment
performs under a deletion request.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def takedown_documents(
    spark: SparkSession,
    doc_ids: DataFrame,
    minhash_prefix: str | None = None,
    components_labels: str | None = None,
    pairs_among: Callable[[DataFrame], DataFrame] | None = None,
    bm25_prefix: str | None = None,
    num_buckets: int = 16,
    vacuum: bool = True,
) -> list[str]:
    """Delete ``doc_ids`` (1-column frame) from every named serving
    state, then (``vacuum=True``) retire all pre-delete generations of
    every touched view with the takedown-compliant
    ``vacuum_generations(keep_last=1)``.  Returns the view names
    touched, in delete order.  ``components_labels`` requires
    ``pairs_among`` (the restricted pair source its bounded
    re-cluster reads — pass the post-delete minhash index's
    ``minhash_pairs_from_index(..., restrict_ids=…)``)."""
    from legate_dataframe_spark.core.bucketing import vacuum_generations
    from legate_dataframe_spark.pipeline import components, dedup, text

    if components_labels is not None and pairs_among is None:
        raise ValueError(
            "components_labels requires pairs_among — the bounded "
            "re-cluster needs a pair source over the survivors")
    # the id frame is consumed by up to four anti-joins and the audit;
    # freeze it once so every consumer broadcasts the same tiny list
    ids = doc_ids.localCheckpoint(eager=True)
    views: list[str] = []
    if minhash_prefix is not None:
        dedup.delete_from_minhash_index(
            spark, ids, minhash_prefix, num_buckets=num_buckets,
            keep_old=True)
        views += [f"{minhash_prefix}_shingles", f"{minhash_prefix}_bands"]
    if components_labels is not None:
        components.delete_from_components_index(
            spark, ids, components_labels, pairs_among,
            num_buckets=num_buckets, keep_old=True)
        views.append(components_labels)
    if bm25_prefix is not None:
        text.delete_from_bm25_index(
            spark, ids, bm25_prefix, num_buckets=num_buckets,
            keep_old=True)
        views.append(f"{bm25_prefix}_postings")
    if vacuum:
        for v in views:
            vacuum_generations(spark, v, keep_last=1)
    return views


def retained_occurrences(
    spark: SparkSession,
    states: Mapping[str, str] | Sequence[tuple[str, str]],
    doc_ids: DataFrame,
) -> DataFrame:
    """Compliance audit: for every (view, id column) in ``states`` and
    every RETAINED generation of that view, count the rows whose id
    column matches ``doc_ids``.  Returns (state, generation,
    n_matching) — all-zero ``n_matching`` is the takedown
    certificate.  Each count is a broadcast semi-join against the id
    list over one co-located bucketed snapshot; the audit never
    shuffles state."""
    from legate_dataframe_spark.core.bucketing import (
        list_generations,
        read_generation,
    )

    items = states.items() if isinstance(states, Mapping) else states
    ids = doc_ids.toDF("__td_id").localCheckpoint(eager=True)
    parts = []
    for view, id_col in items:
        for g in list_generations(spark, view):
            snap = read_generation(spark, view, g)
            parts.append(
                snap.join(F.broadcast(ids),
                          snap[id_col] == ids["__td_id"], "left_semi")
                .agg(F.count(F.lit(1)).alias("n_matching"))
                .select(F.lit(view).alias("state"),
                        F.lit(g).cast("long").alias("generation"),
                        "n_matching"))
    if not parts:
        raise ValueError("no retained generations to audit")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------- exported-shard takedown (r12, VERDICT r11 #8)
# parquet bytes, but deliberately NOT named *.parquet: the export's
# own footer accounting (dir_file_rows) and every directory-scan
# reader must see shards only; explicit-path readers don't care
_EXPORT_SIDECAR = "_ldf_export_manifest"


def export_certified_shards(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    max_records_per_file: int,
    bloom_col: str,
    bloom_bits: int = 8192,
    bloom_hashes: int = 5,
) -> dict[str, int]:
    """Size-bounded shard export WITH a takedown-ready sidecar
    manifest: after the data write, one distributed pass records per
    shard its footer row count and a Bloom bitmap over ``bloom_col``
    into ``_ldf_export_manifest`` beside the shards (parquet bytes,
    but underscore-prefixed and NOT ``*.parquet``-named, so neither
    directory-scan readers nor the export's own footer accounting
    ever see it as data).  The sidecar is
    what makes the exported artifact MAINTAINABLE after the fact: a
    takedown arriving post-export prunes to the shards whose bloom
    may contain the ids instead of rewriting the corpus
    (:func:`takedown_from_export`).  Returns {file: rows}.  Bloom
    parameters outside the contract of
    :func:`core.manifest.write_manifest` raise ``ValueError`` before
    anything is written."""
    from legate_dataframe_spark.core import manifest as mf
    from legate_dataframe_spark.sources.parquet import parquet_write

    mf._check_bloom(bloom_bits, bloom_hashes)
    parquet_write(df, out_dir,
                  max_records_per_file=max_records_per_file)
    rows = mf.dir_file_rows(out_dir)
    blooms = mf._file_blooms(spark, sorted(rows), bloom_col,
                             bloom_bits, bloom_hashes)
    _write_export_sidecar(out_dir, rows, blooms, bloom_col,
                          bloom_bits, bloom_hashes)
    return rows


def _write_export_sidecar(out_dir, rows, blooms, bloom_col,
                          bloom_bits, bloom_hashes) -> None:
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(rows)
    tab = pa.table({
        "file": pa.array(files, pa.string()),
        "rows": pa.array([rows[f] for f in files], pa.int64()),
        "bloom": pa.array([blooms[f] for f in files],
                          pa.list_(pa.int64())),
        "bloom_col": pa.array([bloom_col] * len(files), pa.string()),
        "bloom_bits": pa.array([bloom_bits] * len(files), pa.int64()),
        "bloom_hashes": pa.array([bloom_hashes] * len(files),
                                 pa.int64()),
    })
    # write-beside + rename: a reader never sees a half-written
    # sidecar (the shard rewrites it describes are themselves
    # replaced atomically, same discipline)
    tmp = os.path.join(out_dir, f".{uuid.uuid4().hex}.sidecar.tmp")
    pq.write_table(tab, tmp)
    os.replace(tmp, os.path.join(out_dir, _EXPORT_SIDECAR))


def read_export_sidecar(spark: SparkSession, out_dir: str) -> DataFrame:
    """The sidecar as a DataFrame.  Loaded via pyarrow — Hadoop's
    path filter hides ``_``-prefixed files even on explicit paths —
    and re-created as a local frame: the sidecar is file-count rows
    by contract, the manifest scale class."""
    import os

    import pyarrow.parquet as pq

    tab = pq.read_table(os.path.join(out_dir, _EXPORT_SIDECAR))
    return spark.createDataFrame(
        tab.to_pylist(),
        schema="file string, rows long, bloom array<bigint>, "
               "bloom_col string, bloom_bits long, bloom_hashes long")


def takedown_from_export(
    spark: SparkSession,
    out_dir: str,
    doc_ids: Sequence,
    id_col: str = "doc_id",
) -> dict:
    """Remove documents from an ALREADY-EXPORTED shard set, touching
    only the shards that can contain them (VERDICT r11 task 8: the
    takedown cascade rewrites versioned STATES; the exported corpus
    was a one-shot artifact a late takedown could not reach).

    1. **Prune**: the id probes join the sidecar's bloom bitmaps
       (broadcast — the sidecar is file-count rows) under the
       RECORDED (bloom_bits, bloom_hashes); a shard whose bitmap
       lacks any probe's bits provably does not hold that id, so
       untouched shards stay BYTE-IDENTICAL — the property the
       caller can audit by checksum.
    2. **Rewrite**: each candidate shard is filtered through a Spark
       job and atomically replaced (write-beside + ``os.replace``);
       a shard that turns out to be a bloom false positive (no row
       matched) is left byte-identical too, not rewritten.
    3. **Re-certify**: rewritten shards get fresh footer counts and
       fresh blooms; the sidecar is atomically replaced so the next
       takedown (or readback audit) plans against current metadata.

    Returns {"candidates": [...], "rewritten": [...],
    "rows_removed": n}.  Scale shape: pruning is one broadcast join
    of |ids| × file-count rows; rewrite cost is O(touched shards'
    rows) — the corpus is never rescanned.  Shards here are
    size-bounded by the export cap, so per-shard jobs are small; a
    mass takedown (ids ~ corpus) would batch all candidates through
    one filtered write instead."""
    import os
    import tempfile
    import uuid

    from legate_dataframe_spark.core import manifest as mf

    side = read_export_sidecar(spark, out_dir)
    params = side.select("bloom_col", "bloom_bits",
                         "bloom_hashes").distinct().collect()
    if len(params) != 1:
        raise ValueError(
            f"export sidecar at {out_dir} records mixed bloom "
            f"params: {params}")
    bloom_col, bloom_bits, bloom_hashes = params[0]
    if bloom_col != id_col:
        raise ValueError(
            f"sidecar blooms cover {bloom_col!r}, takedown keyed on "
            f"{id_col!r} — pruning would be unsound")
    ids = list(doc_ids)
    probes = spark.createDataFrame([(i,) for i in ids],
                                   f"{id_col} long")
    p = probes.select(
        id_col, *mf._bloom_positions(F.col(id_col), bloom_bits,
                                     bloom_hashes))
    # crossJoin is |ids| x file-count with the FILE side broadcast —
    # both metadata-sized by the sidecar's contract (exports have no
    # bucket ids to equi-join on, unlike point_lookup_candidates)
    candidates = sorted(
        r["file"] for r in
        p.crossJoin(F.broadcast(side.select("file", "bloom")))
        .filter(mf._bloom_hits(bloom_hashes)).select("file").distinct()
        .collect())
    rewritten: list[str] = []
    rows_removed = 0
    for f in candidates:
        shard = spark.read.parquet(mf._spark_uri(f))
        n_before = shard.count()
        # NOT IN alone is three-valued: a NULL id makes the predicate
        # NULL and the row silently vanishes from every rewritten
        # shard (ADVICE r12) — null-id rows are by definition not the
        # takedown's targets, so keep them explicitly
        kept = shard.filter(~F.col(id_col).isin(ids)
                            | F.col(id_col).isNull())
        n_after = kept.count()
        if n_after == n_before:
            continue  # bloom false positive — leave the bytes alone
        # stage INSIDE the shard's own directory (dot-prefixed, so
        # Hadoop path filters hide it): os.replace cannot cross
        # filesystems, and a system-tmp stage EXDEV-fails whenever
        # TMPDIR and the export live on different devices (ADVICE
        # r12 — tmpfs /tmp vs a data mount)
        stage = tempfile.mkdtemp(dir=os.path.dirname(f),
                                 prefix=".ldf_tk_stage_")
        try:
            kept.coalesce(1).write.mode("overwrite").parquet(
                "file:" + stage)
            part = [x for x in os.listdir(stage)
                    if x.endswith(".parquet")]
            if len(part) != 1:
                raise AssertionError(
                    f"staged rewrite of {f} produced {part}")
            tmp = os.path.join(os.path.dirname(f),
                               f".ldf_tk_{uuid.uuid4().hex}.tmp")
            os.replace(os.path.join(stage, part[0]), tmp)
            os.replace(tmp, f)  # atomic swap into place
            # Hadoop's RawLocal checksum sidecar now describes the
            # OLD bytes; a stale .crc fails every later read
            crc = os.path.join(os.path.dirname(f),
                               f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        finally:
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
        rewritten.append(f)
        rows_removed += n_before - n_after
    if rewritten:
        # re-certify: fresh footer counts for every shard (metadata-
        # only), fresh blooms for the REWRITTEN shards only (one
        # bounded distributed pass), untouched rows carried forward
        rows = mf.dir_file_rows(out_dir)
        blooms = {r["file"]: list(r["bloom"])
                  for r in side.select("file", "bloom").collect()}
        blooms.update(mf._file_blooms(spark, rewritten, id_col,
                                      bloom_bits, bloom_hashes))
        _write_export_sidecar(out_dir, rows, blooms, bloom_col,
                              bloom_bits, bloom_hashes)
    return {"candidates": candidates, "rewritten": rewritten,
            "rows_removed": rows_removed}
