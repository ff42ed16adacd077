"""The commit timeline's driver-side prune.

``vacuum_generations`` prunes ``{view}__commits`` by compaction on the
driver: list the part files, read exactly those, write the kept rows as
one new part file, then delete the listed files.  These tests pin the
result (one part, the right rows), the time-zone semantics across both
writers, the write-before-delete ordering, and the Spark-writer
fallback for non-``file:`` locations.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from legate_dataframe_spark.core import bucketing, manifest
from legate_dataframe_spark.core.bucketing import (
    _record_commit,
    _write_timeline_spark,
    init_versioned,
    read_asof,
    swap_versioned,
    vacuum_generations,
)
from legate_dataframe_spark.core.manifest import table_location


def _parts(loc):
    return sorted(f for f in os.listdir(loc)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def _rows(spark, ct):
    return sorted((r["generation"], r["committed_at"])
                  for r in spark.table(ct).collect())


def _state(spark, db, tmp_path, n_gens):
    """A view with generations 0..n_gens-1, stamped on days 1..n_gens."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} "
              f"LOCATION '{tmp_path}/db'")
    v = f"{db}.s"
    init_versioned(spark, spark.range(1).selectExpr("id AS k", "0L AS n"),
                   v, ["k"], num_buckets=2,
                   committed_at="2024-01-01 00:00:00")
    for g in range(1, n_gens):
        swap_versioned(spark, spark.range(g + 1).selectExpr(
                           "id AS k", f"{g}L AS n"),
                       v, ["k"], num_buckets=2, keep_old=True,
                       committed_at=f"2024-01-{g + 1:02d} 00:00:00")
    return v


def test_vacuum_compacts_timeline_to_one_part(spark, tmp_path):
    try:
        v = _state(spark, "tlc_one", tmp_path, 4)
        ct = f"{v}__commits"
        loc = table_location(spark, ct)
        before = _rows(spark, ct)
        assert len(_parts(loc)) == 4  # one fast-path part per commit
        assert vacuum_generations(spark, v, keep_last=2) == [0, 1]
        assert len(_parts(loc)) == 1
        assert _rows(spark, ct) == [r for r in before if r[0] not in (0, 1)]
        assert read_asof(spark, v, "2024-01-03 12:00:00").count() == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS tlc_one CASCADE")


def test_prune_keeps_both_writers_stamps_under_new_york(spark, tmp_path):
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        v = _state(spark, "tlc_tz", tmp_path, 2)
        ct = f"{v}__commits"
        loc = table_location(spark, ct)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # the same wall-clock strings through each writer, one summer
        # (EDT) and one winter (EST) stamp
        for g, ts in ((7, "2024-06-01 12:30:00"), (9, "2024-12-01 08:15:00.5")):
            _write_timeline_spark(spark, ct, (g, ts), ())
            _record_commit(spark, v, g + 1, ts)
        assert any(not f.startswith("part-ldfcommit-") for f in _parts(loc))
        before = dict(_rows(spark, ct))
        assert before[7] == before[8] and before[9] == before[10]
        vacuum_generations(spark, v, keep_last=1)  # drops generation 0
        after = dict(_rows(spark, ct))
        assert after == {g: t for g, t in before.items() if g != 0}
        assert [f.startswith("part-ldfcommit-") for f in _parts(loc)] == [True]
        assert not [f for f in os.listdir(loc) if f.endswith(".parquet.crc")]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.sql("DROP DATABASE IF EXISTS tlc_tz CASCADE")


def test_compacted_part_exists_before_first_delete(spark, tmp_path,
                                                   monkeypatch):
    try:
        v = _state(spark, "tlc_order", tmp_path, 4)
        ct = f"{v}__commits"
        loc = table_location(spark, ct)
        listed = set(_parts(loc))
        seen = []
        real_remove = os.remove

        def remove(path, *a, **kw):
            if not seen and os.path.dirname(path) == loc:
                new = set(_parts(loc)) - listed
                assert len(new) == 1
                gens = pq.read_table(os.path.join(loc, new.pop()))
                seen.append(sorted(gens["generation"].to_pylist()))
                # the old parts are all still there: a reader sees every
                # kept row, and AS-OF resolves a kept generation
                assert set(_parts(loc)) >= listed
                seen.append(read_asof(spark, v, "2024-01-04 12:00:00")
                            .count())
            return real_remove(path, *a, **kw)

        monkeypatch.setattr(os, "remove", remove)
        assert vacuum_generations(spark, v, keep_last=2) == [0, 1]
        monkeypatch.undo()
        assert seen == [[2, 3], 4]
        assert len(_parts(loc)) == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS tlc_order CASCADE")


def test_non_file_scheme_takes_spark_writer(spark, tmp_path, monkeypatch):
    real_scheme = manifest._scheme_of
    calls = []
    real_spark_writer = bucketing._write_timeline_spark

    def spark_writer(*a):
        calls.append(a[2] is not None)
        return real_spark_writer(*a)

    monkeypatch.setattr(manifest, "_scheme_of", lambda p: (
        "s3" if "__commits" in p else real_scheme(p)))
    monkeypatch.setattr(bucketing, "_write_timeline_spark", spark_writer)
    try:
        v = _state(spark, "tlc_s3", tmp_path, 3)
        ct = f"{v}__commits"
        # the patched scheme makes the location a file: URI
        loc = manifest._local_path(table_location(spark, ct))
        assert calls == [True, True, True]  # every append
        assert not [f for f in _parts(loc) if f.startswith("part-ldfcommit-")]
        before = _rows(spark, ct)
        assert vacuum_generations(spark, v, keep_last=1) == [0, 1]
        assert calls == [True, True, True, False]  # then the prune
        assert _rows(spark, ct) == [r for r in before if r[0] == 2]
        assert not [f for f in _parts(loc) if f.startswith("part-ldfcommit-")]
        assert read_asof(spark, v, "2024-01-04 00:00:00").count() == 3
    finally:
        monkeypatch.undo()
        spark.sql("DROP DATABASE IF EXISTS tlc_s3 CASCADE")
