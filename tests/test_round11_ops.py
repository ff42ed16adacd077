"""Round-11 units: ADVICE-r10 fixes (null-safe apply_diff, recorded
bloom params, legacy-manifest padding, the empty-dict manifest gate),
default commit stamps, commit-marker CAS, substring span REMOVAL, and
the streaming CDF mirror."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legate_dataframe_spark.core import manifest as mf
from legate_dataframe_spark.core.bucketing import apply_diff


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ------------------------------------------- null-safe apply_diff
def test_apply_diff_null_key_roundtrip(spark, tmp_path):
    """ADVICE r10: generation_diff's outer join emits a NULL-key
    refresh as a delete+insert pair; a plain-equality anti-join never
    matches the delete, so the base's NULL-key row survived AND the
    insert re-added it.  The null-safe anti-join must reconstruct the
    new generation exactly on NULL-slice rows."""
    from legate_dataframe_spark.core.bucketing import (
        generation_diff,
        init_versioned,
        read_generation,
        swap_versioned,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_nullkey "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_nullkey.s"
        g0 = _df(spark, [(None, 10), (1, 20)], "k long, n long")
        g1 = _df(spark, [(None, 99), (1, 20), (2, 30)],
                 "k long, n long")
        init_versioned(spark, g0, v, ["k"], num_buckets=2)
        swap_versioned(spark, g1, v, ["k"], num_buckets=2,
                       keep_old=True)
        diff = generation_diff(spark, v, 0, 1, ["k"], ["n"])
        recon = apply_diff(read_generation(spark, v, 0), diff,
                           ["k"], ["n"])
        got = sorted(recon.collect(),
                     key=lambda r: (r["k"] is None, r["k"]))
        assert [tuple(r) for r in got] == [(1, 20), (2, 30), (None, 99)]
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_nullkey CASCADE")


def test_apply_diff_null_key_pure_delete(spark):
    base = _df(spark, [(None, 1), (7, 2)], "k long, n long")
    diff = _df(spark, [(None, "delete", 1, None)],
               "k long, change_type string, old_n long, new_n long")
    got = {tuple(r) for r in
           apply_diff(base, diff, ["k"], ["n"]).collect()}
    assert got == {(7, 2)}


# ------------------------------------ recorded bloom params (ADVICE)
def test_point_lookup_uses_recorded_bloom_params(spark, tmp_path):
    """The probe positions must come from what write_manifest
    RECORDED, not caller-repeated parameters — a non-default
    bloom_bits manifest still finds every key."""
    spark.sql("CREATE DATABASE IF NOT EXISTS t11_bp "
              f"LOCATION '{tmp_path}/db'")
    try:
        t = "t11_bp.t"
        nb = 4
        d = spark.range(300).select(F.col("id").alias("k"))
        (d.repartition(nb, "k").write.format("parquet")
         .bucketBy(nb, "k").sortBy("k").saveAsTable(t))
        mf.write_manifest(spark, t, generation=0, bloom_col="k",
                          bloom_bits=1 << 10, bloom_hashes=5)
        man = spark.table(mf.manifest_table(t)).collect()
        assert {(r["bloom_bits"], r["bloom_hashes"]) for r in man} \
            == {(1 << 10, 5)}
        cand = mf.point_lookup_candidates(spark, t, d, "k",
                                          num_buckets=nb)
        assert cand.select("k").distinct().count() == 300
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_bp CASCADE")


def test_point_lookup_rejects_unrecorded_or_mixed_params(spark,
                                                         tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS t11_bp2 "
              f"LOCATION '{tmp_path}/db'")
    try:
        t = "t11_bp2.t"
        d = spark.range(40).select(F.col("id").alias("k"))
        (d.repartition(2, "k").write.format("parquet")
         .bucketBy(2, "k").sortBy("k").saveAsTable(t))
        mf.write_manifest(spark, t, generation=0, bloom_col="k")
        # simulate a legacy manifest: NULL out the recorded params
        legacy = [tuple(r)[:8] + (None, None)
                  for r in spark.table(mf.manifest_table(t)).collect()]
        (spark.createDataFrame(legacy, mf.MANIFEST_SCHEMA)
         .write.format("parquet").mode("overwrite")
         .saveAsTable(mf.manifest_table(t)))
        with pytest.raises(ValueError, match="bloom params"):
            mf.point_lookup_candidates(spark, t, d, "k", num_buckets=2)
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_bp2 CASCADE")


def test_write_manifest_rejects_param_change_within_generation(
        spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS t11_bp3 "
              f"LOCATION '{tmp_path}/db'")
    try:
        t = "t11_bp3.t"
        d = spark.range(40).select(F.col("id").alias("k"))
        (d.repartition(2, "k").write.format("parquet")
         .bucketBy(2, "k").sortBy("k").saveAsTable(t))
        mf.write_manifest(spark, t, generation=0, bloom_col="k",
                          bloom_bits=1 << 12)
        (d.repartition(2, "k").write.format("parquet").mode("append")
         .bucketBy(2, "k").sortBy("k").saveAsTable(t))
        with pytest.raises(ValueError, match="refusing to append"):
            mf.write_manifest(spark, t, generation=0, bloom_col="k",
                              bloom_bits=1 << 13)
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_bp3 CASCADE")


# ---------------------------------- legacy-manifest schema migration
def test_write_manifest_pads_legacy_seven_column_rows(spark, tmp_path):
    """A manifest persisted under the pre-bloom 7-column schema must
    survive the next refresh (ADVICE r10: no migration path meant a
    schema/length crash)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS t11_legacy "
              f"LOCATION '{tmp_path}/db'")
    try:
        t = "t11_legacy.t"
        d = spark.range(20).select(F.col("id").alias("k"))
        (d.repartition(2, "k").write.format("parquet")
         .bucketBy(2, "k").sortBy("k").saveAsTable(t))
        # hand-write a 7-column legacy manifest under generation 0
        legacy_schema = ("generation long, part string, bucket_id int, "
                         "file string, n_rows long, min_key string, "
                         "max_key string")
        (spark.createDataFrame(
            [(0, None, 0, "/old/file.parquet", 5, None, None)],
            legacy_schema)
         .write.format("parquet").mode("overwrite")
         .saveAsTable(mf.manifest_table(t)))
        # refresh for generation 1 must keep the legacy row, padded
        n = mf.write_manifest(spark, t, generation=1)
        assert n == 2
        rows = {r["generation"]: r
                for r in spark.table(mf.manifest_table(t)).collect()}
        assert rows[0]["bloom"] is None
        assert rows[0]["bloom_bits"] is None
        assert rows[0]["file"] == "/old/file.parquet"
        # prune keeps padding too
        mf.prune_manifest(spark, t, keep_generations=[0, 1])
        assert spark.table(mf.manifest_table(t)).count() == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_legacy CASCADE")


# ----------------------------- object-store-portable manifests (r11)
def test_manifest_on_nonfile_scheme(spark, tmp_path):
    """VERDICT r10 task 4 done-check: manifest write / range plan /
    bloom point-lookup / partition-scoped refresh / export
    certification all run against a genuinely NON-file scheme —
    ``viewfs://`` mounted over a local directory (the hdfs-style
    mock: Spark resolves the scheme through Hadoop's mount table,
    pyarrow through the register_filesystem factory — exactly the
    two registrations an object-store deployment makes)."""
    import os

    from pyarrow import fs as pafs

    root = str(tmp_path / "wh")
    os.makedirs(root)
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.ldfr11.link./wh", f"file:{root}")
    base = "viewfs://ldfr11/wh"

    def factory(uri):
        assert uri.startswith(base), uri
        return pafs.LocalFileSystem(), root + uri[len(base):]

    mf.register_filesystem("viewfs", factory)
    try:
        nb = 4
        d = spark.range(200).select(F.col("id").alias("k"))
        (d.repartition(nb, "k").write.format("parquet")
         .bucketBy(nb, "k").sortBy("k")
         .option("path", f"{base}/t").saveAsTable("t11_vfs_t"))
        n = mf.write_manifest(spark, "t11_vfs_t", generation=0,
                              stats_col="k", bloom_col="k")
        assert n == nb
        man = spark.table(mf.manifest_table("t11_vfs_t")).collect()
        assert all(r["file"].startswith("viewfs://") for r in man)
        assert all(r["bloom"] is not None for r in man)
        assert all(r["n_rows"] > 0 for r in man)
        # range plan + explicit-list read back over the scheme
        files = mf.manifest_files(spark, "t11_vfs_t", generation=0)
        assert len(files) == nb
        back = mf.read_from_manifest(
            spark, "t11_vfs_t", files,
            schema=spark.table("t11_vfs_t").schema)
        assert back.count() == 200
        # bloom-planned point lookup: full probe set, zero misses
        cand = mf.point_lookup_candidates(spark, "t11_vfs_t", d, "k",
                                          num_buckets=nb)
        assert cand.select("k").distinct().count() == 200
        # partition-scoped refresh (the walk that was local-FS-only)
        p = spark.range(100).select((F.col("id") % 2).alias("day"),
                                    F.col("id").alias("k"))
        p.write.partitionBy("day").parquet(f"{base}/pt")
        spark.sql("CREATE TABLE t11_vfs_pt USING parquet "
                  f"LOCATION '{base}/pt'")
        n0 = mf.write_manifest(spark, "t11_vfs_pt", generation=0,
                               parts=["day=0"])
        assert n0 >= 1
        loc = mf.table_location(spark, "t11_vfs_pt")
        assert loc.startswith("viewfs://")
        pf = mf.manifest_files(spark, "t11_vfs_pt", generation=0,
                               parts=["day=0"])
        pback = mf.read_from_manifest(spark, "t11_vfs_pt", pf,
                                      base_path=loc)
        assert pback.count() == 50
        assert {r["day"] for r in
                pback.select("day").distinct().collect()} == {0}
        # export certification walks the scheme too
        rows = mf.dir_file_rows(f"{base}/pt")
        assert sum(rows.values()) == 100
        assert all(f.startswith("viewfs://") for f in rows)
    finally:
        mf._FS_FACTORIES.pop("viewfs", None)
        spark.sql("DROP TABLE IF EXISTS t11_vfs_t")
        spark.sql("DROP TABLE IF EXISTS t11_vfs_pt")
        spark.sql("DROP TABLE IF EXISTS t11_vfs_t__manifest")
        spark.sql("DROP TABLE IF EXISTS t11_vfs_pt__manifest")


# ------------------------------------------ default commit stamps
def test_asof_works_on_unstamped_writes(spark, tmp_path):
    """VERDICT r10 task 3: a state that never passed ``committed_at``
    must still be AS-OF-readable — every publish default-stamps with
    the engine clock."""
    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        read_asof,
        swap_versioned,
        vacuum_generations,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_stamp "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_stamp.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2)
        swap_versioned(spark, _df(spark, [(1, 1), (2, 2)],
                                  "k long, n long"),
                       v, ["k"], num_buckets=2, keep_old=True)
        # far future resolves the live generation
        assert read_asof(spark, v, "9999-01-01 00:00:00").count() == 2
        # before the state existed → the clean no-generation error
        with pytest.raises(ValueError, match="at or before"):
            read_asof(spark, v, "2000-01-01 00:00:00")
        # the time-retention policy works on default stamps too
        assert vacuum_generations(spark, v, keep_last=1,
                                  older_than="9999-01-01 00:00:00") \
            == [0]
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_stamp CASCADE")


def test_explicit_stamp_still_overrides(spark, tmp_path):
    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        read_asof,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_stamp2 "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_stamp2.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2,
                       committed_at="2024-05-01 00:00:00")
        assert read_asof(spark, v, "2024-05-02 00:00:00").count() == 1
        with pytest.raises(ValueError, match="at or before"):
            read_asof(spark, v, "2024-04-30 00:00:00")
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_stamp2 CASCADE")


# ----------------------------------- substring span REMOVAL (r11)
def test_remove_dup_spans_cuts_shared_runs(spark):
    """The cleaned corpus: shared ≥k-token runs are cut, residual
    tokens keep their order, untouched docs pass through
    whitespace-normalized."""
    from legate_dataframe_spark.pipeline.dedup import remove_dup_spans

    shared = "one two three four"  # k=3 → covers 4 positions per doc
    docs = _df(spark, [
        (1, f"alpha {shared} beta"),
        (2, f"gamma delta {shared}"),
        (3, "Totally   unrelated\ttext here"),
        (4, "ab"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_dup_spans(docs, k=3).collect()}
    assert got[1]["text_clean"] == "alpha beta"
    assert (got[1]["removed_tokens"], got[1]["kept_tokens"]) == (4, 2)
    assert got[2]["text_clean"] == "gamma delta"
    assert got[2]["removed_tokens"] == 4
    # untouched docs: normalized (lowercased, whitespace collapsed)
    assert got[3]["text_clean"] == "totally unrelated text here"
    assert got[3]["removed_tokens"] == 0
    assert got[4]["text_clean"] == "ab"


def test_remove_dup_spans_merges_overlapping_spans(spark):
    # two overlapping duplicated runs cover a contiguous region once;
    # the cut must not double-remove or leave fragments
    from legate_dataframe_spark.pipeline.dedup import remove_dup_spans

    docs = _df(spark, [
        (1, "p q a b c d e r"),   # shares "a b c" and "c d e"
        (2, "x a b c y"),
        (3, "z c d e w"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_dup_spans(docs, k=3).collect()}
    assert got[1]["text_clean"] == "p q r"
    assert got[1]["removed_tokens"] == 5  # a b c d e, merged


def test_remove_dup_spans_fully_covered_doc_empties(spark):
    from legate_dataframe_spark.pipeline.dedup import remove_dup_spans

    docs = _df(spark, [
        (1, "a b c"),
        (2, "a b c"),
        (3, "solo text here now"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_dup_spans(docs, k=3).collect()}
    assert got[1]["text_clean"] == ""
    assert (got[1]["removed_tokens"], got[1]["kept_tokens"]) == (3, 0)
    assert got[2]["text_clean"] == ""


def test_remove_dup_spans_reconciles_with_signal(spark, sf_dir):
    """removed_tokens must equal substring_dup_spans' covered_tokens
    doc for doc — the accounting the VERDICT asks to reconcile."""
    from legate_dataframe_spark.pipeline.dedup import (
        remove_dup_spans,
        substring_dup_spans,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    cut = remove_dup_spans(d, k=8).select(
        "doc_id", F.col("removed_tokens").alias("r"))
    sig = substring_dup_spans(d, k=8).select(
        "doc_id", F.col("covered_tokens").alias("c"))
    bad = (cut.join(sig, "doc_id", "full")
           .filter(~F.col("r").eqNullSafe(F.col("c"))).count())
    assert bad == 0


def test_remove_dup_spans_raw_preserves_bytes(spark):
    """The raw rewrite: original case and inner whitespace survive in
    kept runs, detection is case-insensitive, cuts collapse to one
    space."""
    from legate_dataframe_spark.pipeline.dedup import (
        remove_dup_spans_raw,
    )

    docs = _df(spark, [
        (1, "Alpha  ONE two\tThree beta!  Gamma"),
        (2, "x one Two three y"),
        (3, "Untouched   Doc  here\tnow"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_dup_spans_raw(docs, k=3).collect()}
    # "ONE two Three" ≍ "one Two three" case-insensitively → cut;
    # the kept run keeps its double space and the trailing one too
    assert got[1]["text_clean_raw"] == "Alpha beta!  Gamma"
    assert (got[1]["removed_tokens"], got[1]["kept_tokens"]) == (3, 3)
    assert got[2]["text_clean_raw"] == "x y"
    # untouched: byte-exact inner whitespace (tabs, runs of spaces)
    assert got[3]["text_clean_raw"] == "Untouched   Doc  here\tnow"
    assert got[3]["removed_tokens"] == 0


def test_remove_dup_spans_raw_reconciles_with_normalized(spark,
                                                         sf_dir):
    from legate_dataframe_spark.pipeline.dedup import (
        remove_dup_spans,
        remove_dup_spans_raw,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    raw = remove_dup_spans_raw(d, k=8).select(
        "doc_id", "removed_tokens",
        F.lower(F.regexp_replace("text_clean_raw", r"\s+", " "))
        .alias("renorm"))
    norm = remove_dup_spans(d, k=8).select(
        "doc_id", F.col("removed_tokens").alias("r2"),
        F.col("text_clean").alias("clean"))
    bad = (raw.join(norm, "doc_id")
           .filter((F.col("removed_tokens") != F.col("r2"))
                   | (F.col("renorm") != F.col("clean"))).count())
    assert bad == 0


def test_dup_span_intervals_islands(spark):
    from legate_dataframe_spark.pipeline.dedup import dup_span_intervals

    docs = _df(spark, [
        (1, "p q a b c d e r x y z w"),  # covers 3..7 (a b c d e)
        (2, "x a b c y"),                # covers 2..4
        (3, "z c d e w"),                # covers 2..4
        (4, "h i j k l m x y z n"),      # covers 7..9 (x y z)
    ], "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"],
            r["span_tokens"])
           for r in dup_span_intervals(docs, k=3).collect()}
    # doc 1: "a b c" and "c d e" overlap → ONE merged interval 3..7;
    # "x y z" (9..11) shared with doc 4 → a second interval
    assert got == {(1, 3, 7, 5), (1, 9, 11, 3), (2, 2, 4, 3),
                   (3, 2, 4, 3), (4, 7, 9, 3)}


def test_batch_remove_dup_spans_matches_full_recompute(spark,
                                                       tmp_path):
    from legate_dataframe_spark.pipeline.dedup import (
        batch_remove_dup_spans,
        build_substring_index,
        remove_dup_spans,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_spancut "
              f"LOCATION '{tmp_path}/db'")
    try:
        corpus = _df(spark, [
            (1, "a b c d e f"),
            (2, "z y x w v u"),
        ], "doc_id long, text string")
        # doc 10 shares a run with corpus doc 1; docs 11/12 share a
        # run only with EACH OTHER (the intra-batch class)
        batch = _df(spark, [
            (10, "q q a b c d q"),
            (11, "m n o p r s"),
            (12, "t m n o p h"),
        ], "doc_id long, text string")
        build_substring_index(spark, corpus, "t11_spancut.i", k=3,
                              num_buckets=2)
        got = {r["doc_id"]: (r["removed_tokens"], r["text_clean"])
               for r in batch_remove_dup_spans(
                   spark, batch, "t11_spancut.i", k=3).collect()}
        full = {r["doc_id"]: (r["removed_tokens"], r["text_clean"])
                for r in remove_dup_spans(
                    corpus.unionByName(batch), k=3).collect()
                if r["doc_id"] >= 10}
        assert got == full
        assert got[10] == (4, "q q q")
        assert got[11] == (4, "r s")  # the shared "m n o p" run cut
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_spancut CASCADE")


# ------------------------------------------ commit-marker CAS (r11)
def _race_claim(args):
    """Top-level for multiprocessing: wait at the barrier, then try
    the O_EXCL claim — returns whether THIS process won."""
    path, barrier = args
    from legate_dataframe_spark.core.bucketing import _try_create_marker

    barrier.wait(timeout=30)
    return _try_create_marker(path)


def test_marker_claim_two_process_race_single_winner(tmp_path):
    """VERDICT r10 task 5: the commit primitive raced across real
    PROCESSES — exactly one writer wins the claim per slot, zero
    double-claims over every trial."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    n_workers, n_trials = 6, 10
    for trial in range(n_trials):
        path = str(tmp_path / f"g{trial}.commit")
        with ctx.Manager() as mgr:
            barrier = mgr.Barrier(n_workers)
            with ctx.Pool(n_workers) as pool:
                wins = pool.map(_race_claim,
                                [(path, barrier)] * n_workers)
        assert sum(wins) == 1, (trial, wins)


def test_swap_loses_at_claim_when_marker_held(spark, tmp_path):
    """An in-flight cross-session writer holds the g1 marker: the
    swap must raise ConcurrentSwapError BEFORE paying its generation
    write, and the slot must stay untouched."""
    import os

    from legate_dataframe_spark.core.bucketing import (
        ConcurrentSwapError,
        _marker_path,
        init_versioned,
        list_generations,
        swap_versioned,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_mk "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_mk.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2)
        p = _marker_path(spark, v, 1)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").close()  # fresh claim by "another session"
        with pytest.raises(ConcurrentSwapError, match="claimed"):
            swap_versioned(spark, _df(spark, [(1, 2)],
                                      "k long, n long"),
                           v, ["k"], num_buckets=2)
        # loser never wrote: g1 was not created
        assert list_generations(spark, v) == [0]
        # competitor "crashes" long ago → stale reclaim lets the
        # next swap through
        os.utime(p, (1, 1))
        swap_versioned(spark, _df(spark, [(1, 2)], "k long, n long"),
                       v, ["k"], num_buckets=2)
        assert spark.table(v).collect()[0]["n"] == 2
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_mk CASCADE")


def test_failed_swap_releases_unpublished_marker(spark, tmp_path):
    import os

    from legate_dataframe_spark.core import bucketing
    from legate_dataframe_spark.core.bucketing import (
        _marker_path,
        init_versioned,
        swap_versioned,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_mk2 "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_mk2.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2)

        def boom():
            raise RuntimeError("mid-swap crash")

        bucketing._TEST_PRE_CAS_HOOK = boom
        try:
            with pytest.raises(RuntimeError, match="mid-swap"):
                swap_versioned(spark, _df(spark, [(1, 2)],
                                          "k long, n long"),
                               v, ["k"], num_buckets=2)
        finally:
            bucketing._TEST_PRE_CAS_HOOK = None
        # the unpublished claim was released — the slot is free
        assert not os.path.exists(_marker_path(spark, v, 1))
        swap_versioned(spark, _df(spark, [(1, 3)], "k long, n long"),
                       v, ["k"], num_buckets=2)
        assert spark.table(v).collect()[0]["n"] == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_mk2 CASCADE")


def test_published_generation_keeps_marker_and_vacuum_clears(
        spark, tmp_path):
    import os

    from legate_dataframe_spark.core.bucketing import (
        _marker_path,
        init_versioned,
        swap_versioned,
        vacuum_generations,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_mk3 "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_mk3.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2)
        swap_versioned(spark, _df(spark, [(1, 2)], "k long, n long"),
                       v, ["k"], num_buckets=2, keep_old=True)
        assert os.path.exists(_marker_path(spark, v, 1))
        swap_versioned(spark, _df(spark, [(1, 3)], "k long, n long"),
                       v, ["k"], num_buckets=2, keep_old=True)
        dropped = vacuum_generations(spark, v, keep_last=1)
        assert dropped == [0, 1]
        assert not os.path.exists(_marker_path(spark, v, 1))
        assert os.path.exists(_marker_path(spark, v, 2))
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_mk3 CASCADE")


# ----------------------------------- fast commit-stamp TZ semantics
def test_fast_commit_append_matches_spark_writer_tz(spark, tmp_path):
    """The pyarrow fast path writes UTC-adjusted timestamps parsed in
    the SESSION time zone — byte-identical semantics to Spark's own
    writer, asserted under a non-UTC session TZ (the driver probes
    America/New_York)."""
    from legate_dataframe_spark.core.bucketing import (
        _record_commit,
        _write_timeline_spark,
        init_versioned,
        read_asof,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_tz "
              f"LOCATION '{tmp_path}/db'")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        v = "t11_tz.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2,
                       committed_at="2024-01-01 00:00:00")
        spark.conf.set("spark.sql.session.timeZone",
                       "America/New_York")
        ct = f"{v}__commits"
        # one row through each path, same wall-clock string
        _write_timeline_spark(spark, ct, (7, "2024-06-01 12:30:00"), ())
        _record_commit(spark, v, 8, "2024-06-01 12:30:00")
        rows = {r["generation"]: r["committed_at"]
                for r in spark.table(ct).collect()}
        assert rows[7] == rows[8]
        # AS-OF still resolves the real generation under the new TZ
        # (gens 7/8 above are stamp-only rows with no physical table)
        assert read_asof(spark, v, "2024-01-02 00:00:00").count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.sql("DROP DATABASE IF EXISTS t11_tz CASCADE")


# ------------------------------------- r11 prefix rotation contract
def test_registry_prefix_matches_rotation_protocol():
    """The driver samples the first ~50 registry entries; an
    accidental reorder silently un-rotates the round's verification
    plan.  Pin the r13 rotation (VERDICT r12 task 6): new r13
    entries lead, then the changed span-family/takedown machinery,
    then the 3 remaining r06 greens + 34 r07 greens fill the 50."""
    from legate_dataframe_spark.plans.registry import QUERIES

    names = list(QUERIES)
    assert names[:5] == ["clean_corpus_onepass",
                         "substring_span_removal_bpe",
                         "incremental_clean_corpus",
                         "stream_clean_corpus_chain",
                         "clean_corpus_raw_onepass"]
    assert set(names[5:16]) == {
        "substring_span_removal_chars", "decontaminate_spans",
        "repeated_span_removal", "takedown_clean_corpus_export",
        "substring_dup_spans", "substring_span_removal",
        "incremental_substring_spans", "stream_substring_chain",
        "incremental_span_removal", "dup_span_intervals",
        "clean_corpus_export"}
    assert set(names[16:19]) == {
        "compaction_roundtrip", "dq_checks", "incremental_rollup"}
    assert names[19] == "rollup_serve_only"  # the r07 tranche
    assert names[49] == "csv_roundtrip"  # the boundary entry
    assert len(names) == len(set(names))


# --------------------------------------- empty-dict manifest opt-in
def test_empty_dict_manifest_options_still_writes(spark, tmp_path):
    from legate_dataframe_spark.core.bucketing import init_versioned

    spark.sql("CREATE DATABASE IF NOT EXISTS t11_mgate "
              f"LOCATION '{tmp_path}/db'")
    try:
        v = "t11_mgate.s"
        init_versioned(spark, _df(spark, [(1, 1)], "k long, n long"),
                       v, ["k"], num_buckets=2, manifest={})
        assert spark.catalog.tableExists(mf.manifest_table(v))
        assert spark.table(mf.manifest_table(v)).count() >= 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS t11_mgate CASCADE")
