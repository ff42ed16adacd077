"""Round-9 unit tests: view-routed atomic swaps adopted across the
index family (minhash / IVF / BM25 / components), index retention +
time travel with the takedown interaction, and concurrent-reader
safety of the swap+vacuum cycle.

Value correctness of the round-9 registry entries is covered by
tests/test_oracle_parity.py (sf0.001) and the driver gate (sf0.01);
these tests pin the MECHANISMS.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def temp_db(spark, stem):
    db = f"{stem}_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix=f"{stem}_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        yield db
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


def test_minhash_delete_mid_swap_reader(spark, sf_dir):
    """The index-family twin of the rollup mid-swap reader test
    (VERDICT r08 task 2): a reader serving pairs off the minhash
    index succeeds at EVERY step of a takedown — after the shingles
    swap (deleted docs already unservable: their band rows inner-join
    to nothing) and after the bands swap — and never sees a missing
    table or a resurrected deleted doc."""
    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        minhash_pairs_from_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    gone_ids = {r[0] for r in d.filter(F.col("doc_id") % 10 == 0)
                .select("doc_id").collect()}
    with temp_db(spark, "ldf_t9_midswap") as db:
        build_minhash_index(spark, d, f"{db}.idx")
        pre = {tuple(r) for r in minhash_pairs_from_index(
            spark, f"{db}.idx").select("id_a", "id_b").collect()}
        post_want = {p for p in pre
                     if p[0] not in gone_ids and p[1] not in gone_ids}
        assert post_want and post_want != pre  # the delete is real

        def serve() -> set:
            return {tuple(r) for r in minhash_pairs_from_index(
                spark, f"{db}.idx").select("id_a", "id_b").collect()}

        ids = d.filter(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("id"))
        # --- the delete, step by step, reading between the swaps ---
        sh = read_bucketed(spark, f"{db}.idx_shingles")
        swap_versioned(
            spark, sh.join(F.broadcast(ids), "id", "left_anti"),
            f"{db}.idx_shingles", ["id"], num_buckets=16)
        # shingles swapped, bands not yet: deleted docs are ALREADY
        # unservable (their band rows verify against nothing) — the
        # benign direction the shingles-first ordering guarantees
        assert serve() == post_want
        bands = read_bucketed(spark, f"{db}.idx_bands")
        swap_versioned(
            spark, bands.join(F.broadcast(ids), "id", "left_anti"),
            f"{db}.idx_bands", ["band", "bh"], num_buckets=16)
        assert serve() == post_want


def test_index_family_swaps_are_view_routed(spark, sf_dir):
    """Every index build must register stable VIEWS over __g{n}
    physical generations — the structural evidence that maintenance
    write-backs across the family are catalog-atomic repoints."""
    from legate_dataframe_spark.pipeline import dedup, similarity, text
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    with temp_db(spark, "ldf_t9_views") as db:
        dedup.build_minhash_index(spark, d, f"{db}.mh")
        text.build_bm25_index(spark, d, f"{db}.bm")
        similarity.build_ivf_index(spark, e, cen, f"{db}.ivf")
        pairs = dedup.minhash_pairs_from_index(
            spark, f"{db}.mh").select("id_a", "id_b")
        build_components_index(spark, pairs, f"{db}.labels")
        views = {r["viewName"] for r in spark.sql(
            f"SHOW VIEWS IN {db}").collect()}
        assert {"mh_bands", "mh_shingles", "bm_postings",
                "ivf_assign", "labels"} <= views
        tables = {r["tableName"] for r in spark.sql(
            f"SHOW TABLES IN {db}").collect()}
        for stem in ("mh_bands", "mh_shingles", "bm_postings",
                     "ivf_assign", "labels"):
            assert f"{stem}__g0" in tables, stem


def test_minhash_retention_time_travel_and_takedown_vacuum(spark, sf_dir):
    """keep_old=True on the minhash delete retains the pre-delete
    generation for audit (time travel reads it, including the
    taken-down docs), and takedown-compliant vacuum(keep_last=1)
    retires every pre-delete generation — after which reading the
    retired snapshot raises."""
    from legate_dataframe_spark.core.bucketing import (
        list_generations,
        read_generation,
        vacuum_generations,
    )
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        delete_from_minhash_index,
        minhash_pairs_from_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    gone = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    with temp_db(spark, "ldf_t9_ttl") as db:
        build_minhash_index(spark, d, f"{db}.idx")
        pre = {tuple(r) for r in minhash_pairs_from_index(
            spark, f"{db}.idx").select("id_a", "id_b").collect()}
        delete_from_minhash_index(spark, gone, f"{db}.idx",
                                  keep_old=True)
        for t in ("idx_bands", "idx_shingles"):
            assert list_generations(spark, f"{db}.{t}") == [0, 1]
        # the retained pre-delete snapshot still CONTAINS the
        # taken-down docs (the compliance interaction the docstring
        # states): generation-0 band rows include deleted ids
        g0_ids = {r[0] for r in read_generation(
            spark, f"{db}.idx_bands", 0).select("id").distinct()
            .collect()}
        gone_ids = {r[0] for r in gone.collect()}
        assert gone_ids & g0_ids
        # live serve is post-delete
        post = {tuple(r) for r in minhash_pairs_from_index(
            spark, f"{db}.idx").select("id_a", "id_b").collect()}
        assert post == {p for p in pre if p[0] not in gone_ids
                        and p[1] not in gone_ids}
        # takedown-compliant vacuum retires the pre-delete history
        for t in ("idx_bands", "idx_shingles"):
            assert vacuum_generations(spark, f"{db}.{t}",
                                      keep_last=1) == [0]
            with pytest.raises(Exception,
                               match="TABLE_OR_VIEW_NOT_FOUND|"
                                     "cannot be found"):
                read_generation(spark, f"{db}.{t}", 0).count()
        # and the live index is untouched by the vacuum
        still = {tuple(r) for r in minhash_pairs_from_index(
            spark, f"{db}.idx").select("id_a", "id_b").collect()}
        assert still == post


def test_generation_diff_classifies_and_drops_unchanged(spark):
    """insert = only-in-new, delete = only-in-old, update = null-safe
    payload difference (including NULL→value transitions); unchanged
    rows never appear; and with keys == bucket cols the diff join
    reads both snapshots' co-located buckets (Bucketed: true,
    broadcast off)."""
    import contextlib as _ctx
    import io

    from legate_dataframe_spark.core.bucketing import (
        generation_diff,
        init_versioned,
        swap_versioned,
    )

    with temp_db(spark, "ldf_t9_cdf") as db:
        view = f"{db}.state"
        g0 = spark.createDataFrame(
            [(1, 10, None), (2, 20, 5.0), (3, 30, 6.0), (4, 40, 7.0)],
            "k long, n long, x double")
        g1 = spark.createDataFrame(
            [(2, 20, 5.0),        # unchanged → absent
             (3, 31, 6.0),        # n changed → update
             (4, 40, None),       # value→NULL → update (null-safe)
             (5, 50, 8.0)],       # only-in-new → insert
            "k long, n long, x double")                 # 1 → delete
        init_versioned(spark, g0, view, ["k"], num_buckets=2)
        swap_versioned(spark, g1, view, ["k"], num_buckets=2,
                       keep_old=True)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            d = generation_diff(spark, view, 0, 1, ["k"], ["n", "x"])
            buf = io.StringIO()
            with _ctx.redirect_stdout(buf):
                d.explain(mode="formatted")
            assert "Bucketed: true" in buf.getvalue()
            got = {r["k"]: r["change_type"] for r in d.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == {1: "delete", 3: "update", 4: "update",
                       5: "insert"}


def test_histogram_clamp_stats_and_rebin_conserve_counts(spark):
    """The clamp signal counts exactly the out-of-range batch rows,
    and the midpoint REBIN conserves total counts per type while
    relocating mass into the widened domain (the old edge bins'
    midpoints land strictly inside the new bounds)."""
    from legate_dataframe_spark.core.bucketing import read_bucketed
    from legate_dataframe_spark.pipeline.rollup import (
        build_histogram_rollup,
        histogram_batch_clamp_stats,
        histogram_rollup_update,
        rebin_histogram,
    )

    corpus = spark.createDataFrame(
        [(i, "a", float(i % 100)) for i in range(1, 400)],
        "event_id long, event_type string, value double")
    # 2 of 4 batch rows out of range → clamp_frac exactly 0.5
    batch = spark.createDataFrame(
        [(1001, "a", -50.0), (1002, "a", 500.0),
         (1003, "a", 10.0), (1004, "a", 20.0)],
        "event_id long, event_type string, value double")
    with temp_db(spark, "ldf_t9_rebin") as db:
        build_histogram_rollup(spark, corpus, f"{db}.h", num_buckets=4)
        stats = histogram_batch_clamp_stats(
            spark, f"{db}.h", batch).collect()
        assert len(stats) == 1
        assert stats[0]["batch_n"] == 4
        assert stats[0]["clamped_n"] == 2
        assert abs(stats[0]["clamp_frac"] - 0.5) < 1e-9
        merged = histogram_rollup_update(spark, f"{db}.h", batch)
        from legate_dataframe_spark.pipeline.rollup import (
            persist_histogram,
            stored_hist_bounds,
        )
        persist_histogram(spark, f"{db}.h", merged, num_buckets=4)
        total_before = (read_bucketed(spark, f"{db}.h_hist")
                        .agg(F.sum("cnt")).collect()[0][0])
        old_lo, old_hi = stored_hist_bounds(spark, f"{db}.h")
        rebin_histogram(spark, f"{db}.h", widen=0.5, num_buckets=4)
        after = read_bucketed(spark, f"{db}.h_hist")
        assert (after.agg(F.sum("cnt")).collect()[0][0]
                == total_before)  # counts conserved
        nlo, nhi = stored_hist_bounds(spark, f"{db}.h")
        span = old_hi - old_lo
        assert abs(nlo - (old_lo - 0.5 * span)) < 1e-9
        assert abs(nhi - (old_hi + 0.5 * span)) < 1e-9
        # old domain maps to the middle half of the new domain: no
        # mass may sit in the outer quarter bins after a pure rebin
        bkts = {r["bkt"] for r in after.collect()}
        assert bkts <= set(range(16, 48)), bkts


def test_histogram_rebuild_from_raw_resets_clamped_state(spark):
    """The documented escape hatch for clamp fractions too high for
    midpoint rebinning: rebuilding from raw (build_histogram_rollup
    over the current corpus) must reset the bounds to the new data's
    true min/max and leave a state identical to a from-scratch build
    — the clamped mass is re-binned exactly, not approximately."""
    from legate_dataframe_spark.core.bucketing import read_bucketed
    from legate_dataframe_spark.pipeline.rollup import (
        build_histogram_rollup,
        histogram_batch_clamp_stats,
    )

    corpus = spark.createDataFrame(
        [(i, "a", float(i % 50)) for i in range(1, 300)],
        "event_id long, event_type string, value double")
    # heavy drift: most of the batch is far outside the corpus domain
    batch = spark.createDataFrame(
        [(1000 + i, "a", 500.0 + i) for i in range(20)]
        + [(2000, "a", 10.0)],
        "event_id long, event_type string, value double")
    with temp_db(spark, "ldf_t9_rebuild") as db:
        build_histogram_rollup(spark, corpus, f"{db}.h", num_buckets=4)
        frac = histogram_batch_clamp_stats(
            spark, f"{db}.h", batch).collect()[0]["clamp_frac"]
        assert frac > 0.9  # midpoint rebin would be garbage here
        # escape hatch: rebuild over the grown corpus
        grown = corpus.unionByName(batch)
        build_histogram_rollup(spark, grown, f"{db}.h", num_buckets=4)
        from legate_dataframe_spark.pipeline.rollup import (
            stored_hist_bounds,
        )
        nlo, nhi = stored_hist_bounds(spark, f"{db}.h")
        assert nlo == 0.0 and nhi == 519.0
        total = (read_bucketed(spark, f"{db}.h_hist")
                 .agg(F.sum("cnt")).collect()[0][0])
        assert total == grown.count()
        # and a fresh clamp check against the new bounds reads zero
        frac2 = histogram_batch_clamp_stats(
            spark, f"{db}.h", batch).collect()[0]["clamp_frac"]
        assert frac2 == 0.0


def test_concurrent_reader_survives_swap_vacuum_cycles(spark):
    """VERDICT r08 task 8: a second thread loops reads of the stable
    view while the writer cycles swap_versioned + vacuum_generations.
    The ATOMICITY property under test: no read may ever see a missing
    TABLE/VIEW (the drop+rename gap the view repoint eliminates) or a
    mixed/wrong-count generation.  A read whose in-flight scan spans
    ENOUGH swap+vacuum cycles that its (already-resolved) generation
    gets vacuumed underneath it loses files — that is the documented
    grace-period boundary (swap_versioned docstring: retention depth
    must cover the slowest reader), not an atomicity failure:
    keep_last=3 gives readers a three-cycle window and any residual
    slow-read loss is classified separately and bounded."""
    import threading

    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        swap_versioned,
        vacuum_generations,
    )

    with temp_db(spark, "ldf_t9_reader") as db:
        view = f"{db}.state"
        gen0 = spark.range(0, 50).select(F.col("id").alias("k"),
                                         F.lit(0).alias("gen"))
        init_versioned(spark, gen0, view, ["k"], num_buckets=2)
        stop = threading.Event()
        atomicity_errors: list[str] = []
        grace_losses: list[str] = []
        reads = [0]

        def reader() -> None:
            while not stop.is_set():
                try:
                    r = (spark.table(view)
                         .agg(F.count(F.lit(1)).alias("n"),
                              F.min("gen").alias("lo"),
                              F.max("gen").alias("hi")).collect()[0])
                    if r["lo"] != r["hi"]:
                        atomicity_errors.append(
                            f"mixed generations: {r['lo']}..{r['hi']}")
                    elif r["n"] != 50 + 10 * r["lo"]:
                        atomicity_errors.append(
                            f"gen {r['lo']} served {r['n']} rows")
                    reads[0] += 1
                except Exception as ex:
                    msg = repr(ex)[:500]
                    # a captured Spark exception's repr is empty
                    # ("AnalysisException()"), so the lists record its
                    # getCondition()/getMessage() too; the class
                    # checks below still read only the repr
                    cond = getattr(ex, "getCondition", lambda: None)()
                    text = (getattr(ex, "getMessage", lambda: "")()
                            or str(ex))
                    rec = f"condition={cond} message={text} {msg}"[:1000]
                    # a vacuumed-underneath-a-slow-scan FILE loss is
                    # the documented retention boundary; a missing
                    # TABLE/VIEW is the repoint gap — the bug under
                    # test — and must ALWAYS be fatal (ADVICE r09:
                    # several missing-table messages also contain
                    # "does not exist", so the class check comes
                    # first and the substring branch only accepts
                    # path-shaped file losses)
                    if ("TABLE_OR_VIEW_NOT_FOUND" in msg
                            or "TableOrViewNotFound" in msg):
                        atomicity_errors.append(rec)
                    elif ("FileNotFound" in msg
                          or "FILE_NOT_EXIST" in msg
                          or ("does not exist" in msg
                              and ("file:/" in msg
                                   or ".parquet" in msg))):
                        grace_losses.append(rec)
                    else:
                        atomicity_errors.append(rec)

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        try:
            for g in range(1, 6):
                df = spark.range(0, 50 + 10 * g).select(
                    F.col("id").alias("k"), F.lit(g).alias("gen"))
                swap_versioned(spark, df, view, ["k"], num_buckets=2,
                               keep_old=True)
                vacuum_generations(spark, view, keep_last=3)
        finally:
            stop.set()
            t.join(timeout=60)
        assert not atomicity_errors, atomicity_errors[:5]
        # bounded residual: only a scan outliving three full cycles
        # can lose files; more than one such read means retention is
        # not actually covering the reader, which IS a failure
        assert len(grace_losses) <= 1, grace_losses[:3]
        assert reads[0] >= 5  # the reader actually exercised the cycle
