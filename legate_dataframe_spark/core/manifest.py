"""Per-generation/partition FILE MANIFESTS — scan planning without
directory listing (VERDICT r09 task 3).

At 100 TB a plain-parquet table's planning cost is an O(files) —
and for partitioned tables O(partitions) — directory listing on the
driver: the r08 spot-check measured a day-partitioned rollup refresh
at 2.3× wall-clock for 10× history with the DATA read flat (DPP
pruned it), the growth being pure listing.  Table formats solve this
by writing a manifest at COMMIT time — the file list plus per-file
stats — so every later read plans from a tiny metadata read instead
of walking the directory tree.  This module is that pattern in-repo:

- :func:`write_manifest` records, for one table (a physical
  generation ``{view}__g{n}``, or a day-partitioned state table),
  one row per data file: (generation, part, bucket_id, file, rows,
  min/max of a chosen stats column) — rows/min/max come from the
  parquet FOOTERS via pyarrow (metadata-only; no data pass), the
  bucket id from Spark's bucketed-file naming, the partition value
  from the path.  The listing is paid ONCE, at write time, when the
  writer already knows its files.
- :func:`manifest_files` / :func:`read_from_manifest` plan a read
  from the manifest: select file paths (optionally pruned by
  partition value or by min/max overlap with a predicate range) and
  hand Spark an explicit file list — the scan never lists the table
  directory, so planning cost is O(selected files) regardless of how
  much history the table has accumulated.
- :func:`files_per_bucket` exposes the small-file maintenance signal
  (VERDICT r09 task 8): bucket-preserving appends accrete one file
  per bucket per batch; when files-per-bucket crosses a threshold
  the maintainer compacts through the atomic view swap
  (``swap_versioned`` writes one file per bucket by construction).

Consistency: the manifest for a versioned table is keyed by
generation and written BEFORE the view repoint publishes that
generation, so a manifest-planned read of any published generation
sees a complete file list; :func:`prune_manifest` drops rows of
vacuumed generations on the same maintenance cadence as the vacuum.

Portability (r11): every metadata access — footer reads, partition
walks, export certification — routes through the path's own
filesystem (``pyarrow.fs`` resolution by scheme, extensible via
:func:`register_filesystem`), and Spark-side reads keep the scheme
on the URI, so the planner works unchanged when the table lives on
object storage; ``file:`` keeps its plain-path fast path and every
manifest already written stays valid.

The reference has no storage layer or scan planner (its Parquet read
is a libcudf call over an explicit path list,
cpp/src/core/parquet.cpp) — this is the Spark-native analogue of the
"catalog/table format" BASELINE.md names as the production answer.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# one row per data file; min/max are stored as STRINGS whose
# lexicographic order matches the value order for the column types we
# prune on (zero-padded numerics, ISO timestamps) — the caller of
# manifest_files passes bounds in the same encoding.  ``bloom`` is an
# optional per-file Bloom bitmap (array<long>, see write_manifest's
# bloom_col) for EQUALITY pruning — point lookups skip files whose
# bloom provably lacks the key, the case min/max ranges cannot prune
# when every append batch spans the full key domain.  ``bloom_bits``
# and ``bloom_hashes`` record the bitmap's OWN parameters (ADVICE
# r10): probe positions computed under different parameters would
# index the wrong bitmap words and silently miss keys — the one
# failure class a pruning plan must not have — so the planner reads
# the recorded values instead of trusting a caller to repeat them.
MANIFEST_SCHEMA = ("generation long, part string, bucket_id int, "
                   "file string, n_rows long, min_key string, "
                   "max_key string, bloom array<long>, "
                   "bloom_bits int, bloom_hashes int")

# columns in MANIFEST_SCHEMA — legacy rows persisted under a narrower
# schema (7 cols pre-bloom, 8 pre-bloom-params) are padded with
# trailing NULLs when a refresh/prune rewrites them (ADVICE r10: the
# widened schema must not strand existing manifests)
_MANIFEST_NCOLS = 10


def _pad_row(t: tuple) -> tuple:
    return t + (None,) * (_MANIFEST_NCOLS - len(t))

_BUCKET_RE = re.compile(r"_(\d{5})\.c\d{3}")

# ---------------- scheme-agnostic filesystem routing (r11, VERDICT
# r10 task 4): at 100 TB the table lives on object storage, and every
# footer read / partition walk below must route through the path's
# OWN filesystem, not assume ``file:``.  Canonical stored form: plain
# local path for the file scheme (back-compat with every manifest
# already written), the full URI for any other scheme — Spark reads
# both forms directly (Hadoop resolves the scheme), and pyarrow
# resolves the metadata side via the registry below.
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")

# scheme → factory(uri) -> (pyarrow FileSystem, in-fs path).  Covers
# schemes pyarrow's own ``FileSystem.from_uri`` cannot resolve (a
# deployment registers its store once; tests register a local mock).
_FS_FACTORIES: dict = {}


def register_filesystem(scheme: str, factory) -> None:
    """Route ``scheme:`` URIs through ``factory(uri) -> (pyarrow
    FileSystem, path)`` for all manifest metadata access (footer
    reads, partition walks).  The Spark DATA path resolves the same
    scheme through Hadoop (``spark.hadoop.fs.<scheme>.impl``) — the
    two registrations together make a new store a config change, not
    a code change."""
    _FS_FACTORIES[scheme] = factory


def _scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1) if m else None


def _fs_path(path: str):
    """(pyarrow FileSystem, in-fs path) for any path or URI."""
    from pyarrow import fs as pafs

    scheme = _scheme_of(path)
    if scheme in (None, "file"):
        return pafs.LocalFileSystem(), _local_path(path)
    if scheme in _FS_FACTORIES:
        return _FS_FACTORIES[scheme](path)
    return pafs.FileSystem.from_uri(path)


def _canon(path: str) -> str:
    """The form a path is STORED in the manifest (and handed to
    Spark): plain local path for ``file:``/schemeless, the full URI
    otherwise."""
    return _local_path(path) if _scheme_of(path) in (None, "file") \
        else path


def _spark_uri(path: str) -> str:
    """The form Spark's reader needs: schemeless paths get ``file:``
    pinned (the session's default FS may be remote); URIs pass
    through untouched."""
    return path if _scheme_of(path) is not None else f"file:{path}"


def _join_fs(base: str, *parts: str) -> str:
    """URI-safe path join (``os.path.join`` would mangle scheme
    authorities on Windows-style separators; stores use ``/``)."""
    out = base.rstrip("/")
    for p in parts:
        out = f"{out}/{p.strip('/')}"
    return out


def _list_parquet(dirpath: str, recursive: bool = False) -> list[str]:
    """Parquet files under one directory, via the directory's own
    filesystem; canonical stored form; missing directories list
    empty (a brand-new partition not yet written)."""
    from pyarrow import fs as pafs

    f, p = _fs_path(dirpath)
    base = p.rstrip("/")
    sel = pafs.FileSelector(base, recursive=recursive,
                            allow_not_found=True)
    out = []
    for info in f.get_file_info(sel):
        if info.type == pafs.FileType.File \
                and info.path.endswith(".parquet"):
            # stored form = the caller's own dirpath (URI or plain
            # path) + the path relative to it — scheme- and
            # factory-agnostic round-tripping
            out.append(dirpath.rstrip("/") + info.path[len(base):])
    return out


def _local_path(uri: str) -> str:
    """``file:`` URI → plain local path.  ``file:///x`` and ``file:/x``
    both mean local ``/x`` (empty authority); stripping only the
    scheme would leave a ``//x`` that breaks dict joins against
    :func:`_norm_path`-keyed maps."""
    if uri.startswith("file://"):
        uri = uri[7:]
    elif uri.startswith("file:"):
        uri = uri[5:]
    return uri


def _key_encode(val) -> str | None:
    """Stats value → lexicographically ordered string.  Timestamps /
    dates / strings are already ordered as ISO text; integers are
    zero-padded (non-negative domains — doc/vec/order keys here);
    floats keep str() (pruning on floats is not offered)."""
    if val is None:
        return None
    if isinstance(val, bool):
        return "1" if val else "0"
    if isinstance(val, int):
        return f"{val:020d}"
    return str(val)


def _file_manifest_row(path: str, stats_col: str | None):
    """(bucket_id, n_rows, min_key, max_key) from ONE parquet file's
    FOOTER — a metadata read of a few KB, never a data pass; routed
    through the path's own filesystem (r11: any scheme, not just
    ``file:``)."""
    import pyarrow.parquet as pq

    f, p = _fs_path(path)
    md = pq.read_metadata(p, filesystem=f)
    m = _BUCKET_RE.search(path.rsplit("/", 1)[-1])
    bucket = int(m.group(1)) if m else None
    mn = mx = None
    if stats_col is not None:
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema != stats_col or not c.statistics:
                    continue
                s = c.statistics
                if s.has_min_max:
                    lo, hi = _key_encode(s.min), _key_encode(s.max)
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
    return bucket, md.num_rows, mn, mx


def _norm_path(uri: str) -> str:
    """``input_file_name()`` URI → the manifest's canonical stored
    form (``file:`` stripped to the plain local path, percent-escapes
    decoded; any other scheme keeps its full URI)."""
    from urllib.parse import unquote

    return _canon(unquote(uri))


# ---------------- the one Bloom format: every bitmap this package
# writes or probes — dedup.bloom_bitmap, manifest blooms, export
# sidecars — is m_bits/64 longs, key k setting bit
# pmod(xxhash64(k, i), m_bits) for i < n_hashes (bit p is bit p % 64 of
# word p DIV 64).  Manifests and sidecars persist bitmaps in this
# layout, so it is defined here once; pipeline modules import it.

def _check_bloom(m_bits: int, n_hashes: int) -> None:
    """The parameter contract, checked before any Spark work: a
    non-positive or non-word-multiple ``m_bits`` or no probe would
    fail inside a job or, for ``m_bits < 0``, silently prune every
    key."""
    if not (m_bits > 0 and m_bits % 64 == 0 and n_hashes >= 1):
        raise ValueError(
            f"Bloom parameters need m_bits > 0 and a multiple of 64 and "
            f"n_hashes >= 1, got m_bits={m_bits}, n_hashes={n_hashes}")


def _empty_bloom(m_bits: int) -> list[int]:
    """The bitmap of a key set with no keys (an empty file)."""
    return [0] * (m_bits // 64)


def _bloom_positions(key: Column, m_bits: int, n_hashes: int) -> list:
    """The ``n_hashes`` bit positions of ``key`` as columns
    ``__p0..`` (precomputed so :func:`_bloom_hits` is a plain SQL
    expression over them)."""
    _check_bloom(m_bits, n_hashes)
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)).alias(f"__p{i}")
            for i in range(n_hashes)]


def _bloom_hits(n_hashes: int) -> Column:
    """Membership predicate: every ``__p{i}`` bit is set in the joined
    ``bloom`` array<long> column (1-based element_at)."""
    return F.expr(" AND ".join(
        f"(shiftright(element_at(bloom, CAST(__p{i} DIV 64 AS INT) + 1), "
        f"CAST(__p{i} % 64 AS INT)) & 1) = 1"
        for i in range(n_hashes)))


def _bloom_pack(df: DataFrame, key: Column, m_bits: int, n_hashes: int,
                by: Sequence[str] = ()) -> DataFrame:
    """Bitmaps of ``key`` over ``df``, one ``(*by, bloom)`` row per
    ``by`` group (one row when ``by`` is empty).  Fully distributed:
    positions are bit-OR-combined per (group, 64-bit word), then packed
    per group — the only driver-adjacent object is a bitmap."""
    pos = df.select(*by, F.explode(F.array(
        *_bloom_positions(key, m_bits, n_hashes))).alias("p"))
    words = pos.select(
        *by, F.shiftright(F.col("p"), 6).cast("int").alias("w"),
        F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"))
    return (words.groupBy(*by, "w").agg(F.bit_or("b").alias("bits"))
            .groupBy(*by).agg(F.map_from_entries(F.collect_list(
                F.struct(F.col("w"), F.col("bits")))).alias("m"))
            .select(*by, F.transform(
                F.sequence(F.lit(0), F.lit(m_bits // 64 - 1)),
                lambda i: F.coalesce(F.element_at(F.col("m"), i),
                                     F.lit(0).cast("long"))).alias("bloom")))


def _file_blooms(
    spark: SparkSession,
    paths: Sequence[str],
    bloom_col: str,
    m_bits: int,
    n_hashes: int,
) -> dict[str, list[int]]:
    """Per-file Bloom bitmaps over ``bloom_col``, ONE distributed pass
    over exactly ``paths`` (an append's refresh passes only the new
    files, so per-append bloom cost is O(new files' rows)), keyed by
    ``input_file_name()``.  A file with no rows gets the all-zero
    bitmap (no key can be in it).  The only driver-side object is
    file-count × (m_bits/64) longs — the manifest's own scale
    class."""
    df = (spark.read.parquet(*[_spark_uri(p) for p in paths])
          .select(F.col(bloom_col).alias("__k"),
                  F.input_file_name().alias("__f")))
    out = {p: _empty_bloom(m_bits) for p in paths}
    for r in _bloom_pack(df, F.col("__k"), m_bits, n_hashes,
                         by=["__f"]).collect():
        out[_norm_path(r["__f"])] = list(r["bloom"])
    return out


def _part_of(path: str) -> str | None:
    """The innermost ``key=value`` path component — the partition a
    file belongs to (None for unpartitioned layouts).  Stores use
    ``/`` regardless of the local OS separator."""
    parts = [c for c in path.split("/") if "=" in c]
    return parts[-1] if parts else None


def manifest_table(name: str) -> str:
    return f"{name}__manifest"


def write_manifest(
    spark: SparkSession,
    table_name: str,
    physical_table: str | None = None,
    generation: int = 0,
    stats_col: str | None = None,
    parts: Sequence[str] | None = None,
    bloom_col: str | None = None,
    bloom_bits: int = 1 << 12,
    bloom_hashes: int = 3,
) -> int:
    """Record ``physical_table``'s current files under
    ``(generation, …)`` in ``{table_name}__manifest``; returns the
    number of file rows written.  Existing rows for OTHER generations
    (and, when ``parts`` is given, other partitions of the same
    generation) are preserved — the manifest is tiny (file-count
    rows), so the merge collects and rewrites it.

    ``parts`` scopes an incremental refresh: only the touched
    partition DIRECTORIES are walked (a filesystem listing of
    ≤ len(parts) directories — the O(touched) maintenance write of a
    partitioned state table; the full-table listing the manifest
    exists to avoid is never taken on this path).  The directory walk
    and every footer read route through the location's OWN filesystem
    (r11: pyarrow ``FileSystem.from_uri`` plus the
    :func:`register_filesystem` registry), so the same ≤ len(parts)
    listings work on object storage — the previous local-FS-only
    scope (VERDICT r10 "What's missing" #2) is closed.

    ``bloom_col`` additionally records a per-file Bloom bitmap over
    that column (``bloom_bits`` bits, ``bloom_hashes`` xxhash64-seeded
    probes) for EQUALITY pruning — see
    :func:`point_lookup_candidates`.  Blooms are computed in one
    distributed pass over only the files not already recorded (an
    append pays O(new files' rows)); size ``bloom_bits`` to ~10 bits
    per expected distinct key per file for ~1% false positives.  A
    false positive only wastes a probe read; false negatives are
    impossible, so a bloom-planned lookup stays EXACT.  ``bloom_bits``
    must be a positive multiple of 64 and ``bloom_hashes`` ≥ 1
    (``ValueError`` otherwise, before any Spark work).
    """
    if bloom_col is not None:
        _check_bloom(bloom_bits, bloom_hashes)
    phys = physical_table or table_name
    if parts is not None:
        loc = table_location(spark, phys)
        paths = []
        for part in parts:
            # a brand-new partition not yet written lists empty; the
            # walk routes through the location's own filesystem (r11)
            paths.extend(_list_parquet(_join_fs(loc, part)))
    else:
        paths = [_norm_path(u) for u in spark.table(phys).inputFiles()]
    mt = manifest_table(table_name)
    keep = []
    known: dict[str, tuple] = {}
    if spark.catalog.tableExists(mt):
        for r in spark.table(mt).collect():
            if r["generation"] != generation:
                keep.append(_pad_row(tuple(r)))
            elif parts is not None and r["part"] not in set(parts):
                keep.append(_pad_row(tuple(r)))
            else:
                # same generation + in scope: data files are immutable
                # once written (parquet parts never change in place),
                # so an already-recorded path keeps its stats row —
                # an APPEND's refresh only reads the NEW files'
                # footers, keeping per-append manifest cost O(new
                # files), not O(generation)
                known[r["file"]] = _pad_row(tuple(r))
    fresh = [p for p in paths
             if p not in known
             and (parts is None or _part_of(p) in set(parts))]
    if bloom_col is not None:
        # an append refresh must not mix bloom parameters within a
        # generation — probe positions are computed ONCE per lookup,
        # so mixed-parameter bitmaps would silently miss keys; fail
        # at write time, where the caller can fix the options
        clash = {(r[8], r[9]) for r in known.values()
                 if r[8] is not None
                 and (r[8], r[9]) != (bloom_bits, bloom_hashes)}
        if clash:
            raise ValueError(
                f"manifest of {table_name} generation {generation} "
                f"already records bloom params {sorted(clash)} — "
                f"refusing to append files under "
                f"({bloom_bits}, {bloom_hashes})")
    blooms: dict[str, list[int]] = {}
    if bloom_col is not None and fresh:
        blooms = _file_blooms(spark, fresh, bloom_col,
                              bloom_bits, bloom_hashes)
    rows = []
    for path in paths:
        part = _part_of(path)
        if parts is not None and part not in set(parts):
            continue
        if path in known:
            rows.append(known[path])
            continue
        bucket, n_rows, mn, mx = _file_manifest_row(path, stats_col)
        rows.append((generation, part, bucket, path, n_rows, mn, mx,
                     blooms[path] if bloom_col is not None else None,
                     bloom_bits if bloom_col is not None else None,
                     bloom_hashes if bloom_col is not None else None))
    out = spark.createDataFrame(keep + rows, MANIFEST_SCHEMA)
    out.write.format("parquet").mode("overwrite").saveAsTable(mt)
    return len(rows)


def manifest_files(
    spark: SparkSession,
    table_name: str,
    generation: int | None = None,
    parts: Sequence[str] | None = None,
    min_key: str | None = None,
    max_key: str | None = None,
) -> list[str]:
    """PLAN a read from the manifest: the file paths of one
    generation, optionally pruned to a partition set and/or to files
    whose [min_key, max_key] footer range overlaps the queried
    range.  A metadata-only read of the (file-count-row) manifest —
    the table directory is never listed."""
    m = spark.table(manifest_table(table_name))
    if generation is not None:
        m = m.filter(F.col("generation") == generation)
    if parts is not None:
        m = m.filter(F.col("part").isin(list(parts)))
    if min_key is not None:  # file overlaps iff file.max >= lo
        m = m.filter(F.col("max_key") >= F.lit(min_key))
    if max_key is not None:  # ... and file.min <= hi
        m = m.filter(F.col("min_key") <= F.lit(max_key))
    return [r["file"] for r in m.select("file").collect()]


def point_lookup_candidates(
    spark: SparkSession,
    table_name: str,
    probes: DataFrame,
    key_col: str,
    num_buckets: int,
    generation: int | None = None,
) -> DataFrame:
    """PLAN a batched point lookup: (key, candidate file) pairs for a
    probe-key frame against a BUCKETED table's bloom-carrying
    manifest.  Two pruning stages, both exact-in, conservative-out:

    1. **bucket pruning** — the probe's bucket id is recomputed with
       Spark's own bucket hash (``pmod(murmur3, n)`` — the same
       assignment ``_write_generation`` relies on), cutting the file
       list by the bucket count EXACTLY (a key can only live in its
       bucket's files);
    2. **bloom pruning** — within the bucket, append batches accrete
       one file each and every batch spans the full key domain, so
       min/max ranges cannot prune them; the per-file bloom can: a
       file whose bitmap lacks any of the key's ``bloom_hashes`` bits
       provably does not hold the key.

    The join is a broadcast EQUI-join on bucket_id (the manifest side
    is file-count rows — driver-metadata-sized by the manifest's own
    contract), so probe batches of any size stream through without a
    shuffle of either side.  False positives survive to the read; the
    caller's final equi-join on the key keeps the answer exact.  At
    100 TB the arithmetic is: 1M files / 1024 buckets ≈ 1K files per
    bucket; blooms at ~1% fp cut a point probe's read to ~1 + 10
    files — four orders of magnitude under a full scan, with zero
    directory listing.

    Raises when any in-scope manifest row lacks a bloom or bucket id
    (a silent pass-through would MISS keys in those files — the one
    failure class a pruning plan must not have).  Probe positions are
    computed under the bloom parameters the manifest RECORDED (ADVICE
    r10: caller-supplied parameters that differ from what
    write_manifest used would index the wrong bitmap words — an
    out-of-range ``element_at`` reads NULL, the filter drops the row,
    and keys silently vanish, violating the no-false-negative
    contract); mixed or unrecorded parameters raise instead of
    pruning wrong."""
    m = spark.table(manifest_table(table_name))
    if generation is not None:
        m = m.filter(F.col("generation") == generation)
    # validation is ONE aggregate over the manifest — the driver sees
    # counts and the distinct parameter pairs, never the bitmaps (a
    # 1M-file manifest's blooms are hundreds of MB; collecting them
    # here would make the PLANNING step the scale problem)
    stats = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("bloom").isNull()
                     | F.col("bucket_id").isNull(), 1)
              .otherwise(0)).alias("bad"),
        F.sum(F.when(F.size("bloom") * 64
                     != F.col("bloom_bits"), 1)
              .otherwise(0)).alias("wrong_size"),
        F.collect_set(F.struct("bloom_bits", "bloom_hashes"))
        .alias("params")).collect()[0]
    if stats["n"] == 0:
        raise ValueError(
            f"manifest of {table_name} has no rows in scope "
            f"(generation={generation}) — was the write made with "
            f"manifest options?")
    if stats["bad"]:
        raise ValueError(
            f"{stats['bad']} manifest row(s) of {table_name} lack a "
            f"bloom or bucket id — point lookup needs every file "
            f"covered (write_manifest with bloom_col on a bucketed "
            f"layout)")
    params = {(p["bloom_bits"], p["bloom_hashes"])
              for p in stats["params"]}
    if len(params) != 1 or None in next(iter(params)):
        raise ValueError(
            f"manifest of {table_name} records bloom params "
            f"{sorted(params)} — point lookup needs ONE recorded "
            f"(bloom_bits, bloom_hashes) pair (legacy manifests "
            f"predate the recording: re-run write_manifest)")
    (bloom_bits, bloom_hashes) = next(iter(params))
    if stats["wrong_size"]:
        raise ValueError(
            f"{stats['wrong_size']} bloom bitmap(s) of {table_name} "
            f"disagree with the recorded bloom_bits={bloom_bits} — "
            f"manifest is corrupt; re-run write_manifest")
    p = probes.select(
        F.col(key_col),
        F.pmod(F.hash(F.col(key_col)), F.lit(num_buckets))
        .cast("int").alias("bucket_id"),
        *_bloom_positions(F.col(key_col), bloom_bits, bloom_hashes))
    return (p.join(F.broadcast(m.select("bucket_id", "file", "bloom")),
                   "bucket_id")
            .filter(_bloom_hits(bloom_hashes))
            .select(key_col, "file"))


def read_from_manifest(
    spark: SparkSession,
    table_name: str,
    files: Sequence[str],
    base_path: str | None = None,
    schema=None,
) -> DataFrame:
    """Read an explicit manifest-planned file list.  ``base_path``
    re-attaches partition columns parsed from the paths (pass the
    table location for partitioned layouts); ``schema`` skips
    inference (pass ``spark.table(t).schema`` minus partition cols,
    or None to infer from the first footer)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", _spark_uri(base_path))
    return reader.parquet(*[_spark_uri(f) for f in files])


def files_per_bucket(
    spark: SparkSession,
    table_name: str,
    generation: int,
) -> dict[int, int]:
    """The small-file maintenance signal: bucket_id → file count for
    one generation, from the manifest (no listing).  Appends accrete
    one file per bucket per batch; compaction through
    ``swap_versioned`` resets every count to 1."""
    rows = (spark.table(manifest_table(table_name))
            .filter(F.col("generation") == generation)
            .groupBy("bucket_id")
            .agg(F.count(F.lit(1)).alias("n_files")).collect())
    if not rows:
        # a silent {} would read as "zero fragmentation" — the exact
        # wrong answer for a maintenance trigger
        raise ValueError(
            f"manifest of {table_name} has no rows for generation "
            f"{generation} — was the write made with manifest=True?")
    return {r["bucket_id"]: r["n_files"] for r in rows}


def prune_manifest(
    spark: SparkSession,
    table_name: str,
    keep_generations: Sequence[int],
) -> None:
    """Drop manifest rows of vacuumed generations — run on the same
    maintenance cadence as ``vacuum_generations``."""
    mt = manifest_table(table_name)
    if not spark.catalog.tableExists(mt):
        return
    rows = [_pad_row(tuple(r)) for r in spark.table(mt).collect()
            if r["generation"] in set(keep_generations)]
    (spark.createDataFrame(rows, MANIFEST_SCHEMA)
     .write.format("parquet").mode("overwrite").saveAsTable(mt))


def dir_file_rows(dirpath: str) -> dict[str, int]:
    """(path → footer row count) for every parquet file under a
    directory — the commit-side accounting of an EXPORT: the writer
    owns this one listing (it just wrote the files), and the counts
    come from footers (metadata-only), never a data pass.  This is
    how a shard export certifies its size-cap contract without
    re-scanning what it wrote.  Routed through the directory's own
    filesystem (r11) — an export to object storage certifies the
    same way."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for p in _list_parquet(dirpath, recursive=True):
        f, fp = _fs_path(p)
        out[p] = pq.read_metadata(fp, filesystem=f).num_rows
    return out


def table_location(spark: SparkSession, table_name: str) -> str:
    """The table's filesystem location from the catalog (a metadata
    lookup, not a listing) — the basePath for partition-preserving
    manifest reads.  Canonical form: plain path for ``file:``
    locations, the full URI for any other scheme (r11)."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect():
        if (r["col_name"] or "").strip() == "Location":
            return _canon(r["data_type"].strip())
    raise ValueError(f"no Location for {table_name}")
