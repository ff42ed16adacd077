"""Round-8 unit tests: index DELETE/retract equivalence, BM25 insert
stats folding, and the view-routed atomic generation swap.

Value correctness of every round-8 registry entry is covered by
tests/test_oracle_parity.py (sf0.001) and the driver gate (sf0.01);
these tests pin the MECHANISMS — delete == fresh-build-minus,
retract == recompute-minus (including a forced extremum deletion),
and the no-gap property of the view swap.
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


def test_minhash_delete_matches_fresh_build(spark, sf_dir):
    """delete(batch) from build(all) must serve the SAME pair set as a
    fresh build over all MINUS batch — no leftover band/shingle rows,
    no over-removal."""
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        delete_from_minhash_index,
        minhash_pairs_from_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    with temp_db(spark, "ldf_t8_mhdel") as db:
        build_minhash_index(spark, d, f"{db}.dec")
        delete_from_minhash_index(
            spark, d.filter(F.col("doc_id") % 10 == 0).select("doc_id"),
            f"{db}.dec")
        build_minhash_index(spark, d.filter(F.col("doc_id") % 10 != 0),
                            f"{db}.fresh")
        got = sorted(map(tuple, minhash_pairs_from_index(
            spark, f"{db}.dec").collect()))
        want = sorted(map(tuple, minhash_pairs_from_index(
            spark, f"{db}.fresh").collect()))
        assert got == want and len(want) > 0


def test_ivf_delete_matches_fresh_build(spark, sf_dir):
    from legate_dataframe_spark.pipeline.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_search_persisted,
    )
    from legate_dataframe_spark.plans.relational import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cen = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    q = e.filter(F.col("vec_id") % 50 == 0)
    with temp_db(spark, "ldf_t8_ivfdel") as db:
        build_ivf_index(spark, e, cen, f"{db}.dec")
        delete_from_ivf_index(
            spark, e.filter(F.col("vec_id") % 4 == 0).select("vec_id"),
            f"{db}.dec")
        build_ivf_index(spark, e.filter(F.col("vec_id") % 4 != 0), cen,
                        f"{db}.fresh")
        got = sorted(map(tuple, ivf_search_persisted(
            spark, q, f"{db}.dec").collect()))
        want = sorted(map(tuple, ivf_search_persisted(
            spark, q, f"{db}.fresh").collect()))
        assert got == want and len(want) > 0


def test_bm25_insert_and_delete_roundtrip_stats(spark, sf_dir):
    """build(corpus) + insert(batch) must equal build(corpus ∪ batch)
    INCLUDING the stats row (exact avgdl fold); a following
    delete(batch) must return to build(corpus) exactly."""
    from legate_dataframe_spark.pipeline.text import (
        bm25_search_persisted,
        build_bm25_index,
        delete_from_bm25_index,
        insert_into_bm25_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    terms = ["shuffle", "broadcast", "vector"]
    with temp_db(spark, "ldf_t8_bm") as db:
        build_bm25_index(spark, corpus, f"{db}.inc")
        insert_into_bm25_index(spark, batch, f"{db}.inc")
        build_bm25_index(spark, d, f"{db}.full")
        got = sorted(map(tuple, bm25_search_persisted(
            spark, terms, f"{db}.inc").collect()))
        want = sorted(map(tuple, bm25_search_persisted(
            spark, terms, f"{db}.full").collect()))
        assert got == want and len(want) > 0
        assert (spark.table(f"{db}.inc_stats").collect()
                == spark.table(f"{db}.full_stats").collect())
        # and back: delete the batch → exactly the corpus-only index
        delete_from_bm25_index(spark, batch.select("doc_id"),
                               f"{db}.inc")
        build_bm25_index(spark, corpus, f"{db}.base")
        got = sorted(map(tuple, bm25_search_persisted(
            spark, terms, f"{db}.inc").collect()))
        want = sorted(map(tuple, bm25_search_persisted(
            spark, terms, f"{db}.base").collect()))
        assert got == want
        assert (spark.table(f"{db}.inc_stats").collect()
                == spark.table(f"{db}.base_stats").collect())


def test_rollup_retract_recomputes_deleted_extrema(spark):
    """Retract a batch that HOLDS a group's max (and another group's
    min): the equality detection must route exactly those groups
    through the raw-slice recompute, and the result must equal a
    fresh aggregation over the surviving rows."""
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_index,
        event_partials,
        rollup_retract,
    )

    rows = [
        # (event_id, ts, event_type, value) — group A: batch holds max
        (1, "2024-01-01 01:00:00", "a", 1.0),
        (2, "2024-01-01 02:00:00", "a", 5.0),   # batch, the max
        (3, "2024-01-01 03:00:00", "a", 3.0),
        # group B: batch holds min
        (4, "2024-01-01 01:00:00", "b", -2.0),  # batch, the min
        (5, "2024-01-01 02:00:00", "b", 4.0),
        # group C: batch strictly inside (no recompute needed)
        (6, "2024-01-01 01:00:00", "c", 0.0),
        (7, "2024-01-01 02:00:00", "c", 1.0),   # batch, inside
        (8, "2024-01-01 03:00:00", "c", 2.0),
        # group D: fully deleted
        (9, "2024-01-01 01:00:00", "d", 7.0),   # batch
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = e.filter(F.col("event_id").isin(2, 4, 7, 9))
    remaining = e.filter(~F.col("event_id").isin(2, 4, 7, 9))
    with temp_db(spark, "ldf_t8_retract") as db:
        build_rollup_index(spark, e, f"{db}.state", num_buckets=4)
        got = sorted(map(tuple, rollup_retract(
            spark, f"{db}.state", batch, remaining).collect()))
        want = sorted(map(tuple, event_partials(remaining).collect()))
        assert got == want
        types = {t[1] for t in got}
        assert types == {"a", "b", "c"}  # group d dropped entirely


def test_rollup_retract_all_null_batch_keeps_group(spark):
    """ADVICE r08 (medium): a surviving group whose deleted rows are
    ALL NULL-valued has NULL batch extrema — three-valued logic in
    the extremum-safe predicate would make the group fail both merge
    branches and vanish.  It must survive with n decremented, sum
    unchanged, min/max untouched; an all-NULL GROUP must also retract
    cleanly (stored extrema NULL on both sides)."""
    from legate_dataframe_spark.pipeline.rollup import (
        build_rollup_index,
        event_partials,
        rollup_retract,
    )

    rows = [
        # group A: survivors have values; the deleted slice is all-NULL
        (1, "2024-01-01 01:00:00", "a", 1.0),
        (2, "2024-01-01 02:00:00", "a", None),   # batch (NULL value)
        (3, "2024-01-01 03:00:00", "a", 3.0),
        (4, "2024-01-01 04:00:00", "a", None),   # batch (NULL value)
        # group B: ALL values NULL, batch deletes one of them
        (5, "2024-01-01 01:00:00", "b", None),
        (6, "2024-01-01 02:00:00", "b", None),   # batch
        # group C: untouched control
        (7, "2024-01-01 01:00:00", "c", 2.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = e.filter(F.col("event_id").isin(2, 4, 6))
    remaining = e.filter(~F.col("event_id").isin(2, 4, 6))
    with temp_db(spark, "ldf_t8_retnull") as db:
        build_rollup_index(spark, e, f"{db}.state", num_buckets=4)
        got = sorted(
            map(tuple, rollup_retract(
                spark, f"{db}.state", batch, remaining).collect()),
            key=lambda t: (t[1],))
        want = sorted(map(tuple, event_partials(remaining).collect()),
                      key=lambda t: (t[1],))
        assert got == want
        assert {t[1] for t in got} == {"a", "b", "c"}  # nothing vanished


def test_current_generation_resolves_from_view_not_orphans(spark):
    """ADVICE r08: an interrupted swap leaves an orphan __g{n+1} while
    the view still serves g{n}.  The next swap must overwrite the
    orphan and retire the real old generation — not fork from the
    orphan's number and leak the live table; vacuum must never drop
    the generation the view points at, even when an orphan outnumbers
    it."""
    from legate_dataframe_spark.core.bucketing import (
        _current_generation,
        _write_generation,
        init_versioned,
        list_generations,
        swap_versioned,
        vacuum_generations,
    )

    with temp_db(spark, "ldf_t8_orphan") as db:
        view = f"{db}.state"
        g0 = spark.range(0, 10).select(F.col("id").alias("k"),
                                       F.lit(0).alias("gen"))
        init_versioned(spark, g0, view, ["k"], num_buckets=2)
        # simulate a crash: generation 1 written, repoint never ran
        orphan = spark.range(0, 99).select(F.col("id").alias("k"),
                                           F.lit(99).alias("gen"))
        _write_generation(spark, orphan, f"{view}__g1", ["k"], 2, None)
        assert _current_generation(spark, view) == 0  # view, not orphan
        # vacuum reclaims the out-ranking orphan, never the live gen
        assert vacuum_generations(spark, view, keep_last=1) == [1]
        assert spark.table(view).count() == 10
        # re-create the orphan: the next swap must also heal WITHOUT
        # a vacuum (the overwrite path)
        _write_generation(spark, orphan, f"{view}__g1", ["k"], 2, None)
        g1 = spark.range(0, 20).select(F.col("id").alias("k"),
                                       F.lit(1).alias("gen"))
        swap_versioned(spark, g1, view, ["k"], num_buckets=2)
        assert _current_generation(spark, view) == 1
        assert list_generations(spark, view) == [1]  # g0 retired
        assert spark.table(view).count() == 20
        assert spark.table(view).agg(
            F.max("gen")).collect()[0][0] == 1  # orphan data gone


def test_components_delete_splits_and_preserves(spark):
    """Deleting a cut vertex must SPLIT its cluster (survivors with no
    remaining pair leave the labelling); deleting a non-cut member
    must keep the rest connected; untouched components pass through."""
    from legate_dataframe_spark.core.bucketing import read_bucketed
    from legate_dataframe_spark.pipeline.components import (
        build_components_index,
        delete_from_components_index,
    )

    all_pairs = [(1, 2), (2, 3),            # chain: 2 is a cut vertex
                 (10, 11), (11, 12), (10, 12),  # triangle
                 (20, 21)]                  # untouched component

    def pairs_among(ids_df):
        ids = {r[0] for r in ids_df.collect()}  # test-only oracle fn
        keep = [(a, b) for a, b in all_pairs if a in ids and b in ids]
        return spark.createDataFrame(keep or [(None, None)],
                                     "id_a long, id_b long").filter(
            F.col("id_a").isNotNull())

    with temp_db(spark, "ldf_t8_cdel") as db:
        pairs = spark.createDataFrame(all_pairs, "id_a long, id_b long")
        build_components_index(spark, pairs, f"{db}.labels",
                               num_buckets=4)
        # delete 2 (splits the chain: 1 and 3 become pairless) and
        # 11 (triangle survives as edge 10-12)
        delete_from_components_index(
            spark, spark.createDataFrame([(2,), (11,)], "id long"),
            f"{db}.labels", pairs_among, num_buckets=4)
        got = {r["node"]: r["component"]
               for r in read_bucketed(spark, f"{db}.labels").collect()}
        assert got == {10: 10, 12: 10, 20: 20, 21: 20}


def test_view_swap_never_exposes_a_gap(spark):
    """The atomic-swap property: a reader of the stable view succeeds
    at EVERY step of the swap — after the new generation is written,
    after the repoint, and after the old generation is dropped —
    and sees a consistent (old xor new) generation.  A plain
    drop+rename swap, by contrast, has a window where
    the name resolves to nothing."""
    from legate_dataframe_spark.core.bucketing import (
        _current_generation,
        _write_generation,
        init_versioned,
        swap_versioned,
    )

    with temp_db(spark, "ldf_t8_vswap") as db:
        view = f"{db}.state"
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit(1).alias("gen"))
        init_versioned(spark, df, view, ["k"], num_buckets=4)

        def read_gen():
            r = (spark.table(view).agg(
                F.count(F.lit(1)).alias("n"),
                F.min("gen").alias("g"), F.max("gen").alias("g2"))
                .collect()[0])
            assert r["g"] == r["g2"], "mixed generations visible"
            return r["n"], r["g"]

        assert read_gen() == (100, 1)
        # --- the swap, step by step, reading between every step ---
        gen2 = spark.range(0, 150).select(
            F.col("id").alias("k"), F.lit(2).alias("gen"))
        cur = _current_generation(spark, view)
        _write_generation(spark, gen2, f"{view}__g{cur + 1}", ["k"], 4,
                          None)
        assert read_gen() == (100, 1)      # still old after the write
        spark.sql(f"CREATE OR REPLACE VIEW {view} AS "
                  f"SELECT * FROM {view}__g{cur + 1}")
        assert read_gen() == (150, 2)      # atomically new
        spark.sql(f"DROP TABLE IF EXISTS {view}__g{cur}")
        assert read_gen() == (150, 2)      # drop invisible to readers
        # and the packaged helper does the same end to end
        gen3 = spark.range(0, 70).select(
            F.col("id").alias("k"), F.lit(3).alias("gen"))
        swap_versioned(spark, gen3, view, ["k"], num_buckets=4)
        assert read_gen() == (70, 3)
        assert _current_generation(spark, view) == 2


def test_generation_retention_and_time_travel(spark):
    """keep_old=True retains snapshots readable by read_generation;
    vacuum drops exactly the requested history, never the current
    generation; the stable view tracks the newest throughout."""
    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        list_generations,
        read_generation,
        swap_versioned,
        vacuum_generations,
    )

    with temp_db(spark, "ldf_t8_ttl") as db:
        view = f"{db}.state"
        for gen in range(4):
            df = spark.range(0, 10 * (gen + 1)).select(
                F.col("id").alias("k"), F.lit(gen).alias("gen"))
            if gen == 0:
                init_versioned(spark, df, view, ["k"], num_buckets=2)
            else:
                swap_versioned(spark, df, view, ["k"], num_buckets=2,
                               keep_old=True)
        assert list_generations(spark, view) == [0, 1, 2, 3]
        # time travel: each retained snapshot is intact
        for gen in range(4):
            snap = read_generation(spark, view, gen)
            assert snap.count() == 10 * (gen + 1)
            assert snap.agg(F.max("gen")).collect()[0][0] == gen
        assert vacuum_generations(spark, view, keep_last=2) == [0, 1]
        assert list_generations(spark, view) == [2, 3]
        # keep_last clamps to >=1 — the current generation survives
        assert vacuum_generations(spark, view, keep_last=0) == [2]
        assert spark.table(view).count() == 40
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|"
                                            "cannot be found"):
            read_generation(spark, view, 0).count()


def test_view_swap_keeps_bucketed_scans(spark):
    """Reads through the stable view must still plan bucket-aware
    scans of the current physical generation (Catalyst inlines the
    trivial view)."""
    import contextlib as _ctx
    import io

    from legate_dataframe_spark.core.bucketing import (
        init_versioned,
        swap_versioned,
    )

    with temp_db(spark, "ldf_t8_vbkt") as db:
        view = f"{db}.t"
        df = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        init_versioned(spark, df, view, ["k"], num_buckets=4)
        swap_versioned(spark, spark.table(view), view, ["k"],
                       num_buckets=4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = (spark.range(0, 50).select(F.col("id").alias("k"))
                     .repartition(4, "k"))
            buf = io.StringIO()
            with _ctx.redirect_stdout(buf):
                spark.table(view).join(probe, "k").explain(
                    mode="formatted")
            assert "Bucketed: true" in buf.getvalue()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_histogram_fold_matches_fresh_build(spark, sf_dir):
    """Mergeability pin: build(corpus) + fold(batch) must equal a
    fresh histogram over corpus ∪ batch binned under the CORPUS
    bounds (the frozen-domain contract)."""
    from legate_dataframe_spark.core.bucketing import read_bucketed
    from legate_dataframe_spark.pipeline.rollup import (
        build_histogram_rollup,
        hist_partials,
        histogram_rollup_update,
    )
    from legate_dataframe_spark.plans.relational import load_table

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 != 0)
    batch = e.filter(F.col("event_id") % 10 == 0)
    with temp_db(spark, "ldf_t8_hist") as db:
        build_histogram_rollup(spark, corpus, f"{db}.h", num_buckets=4)
        folded = sorted(map(tuple, histogram_rollup_update(
            spark, f"{db}.h", batch)
            .select("event_type", "bkt", "cnt").collect()))
        from legate_dataframe_spark.pipeline.rollup import (
            stored_hist_bounds,
        )
        vlo, vhi = stored_hist_bounds(spark, f"{db}.h")
        row = {"vlo": vlo, "vhi": vhi}
        want = sorted(map(tuple, hist_partials(
            e, F.lit(row["vlo"]), F.lit(row["vhi"])).collect()))
        assert folded == want and len(want) > 0
        # out-of-range values clamp to edge bins, counts conserved
        wild = spark.createDataFrame(
            [(1, "a", row["vlo"] - 100.0), (2, "a", row["vhi"] + 100.0)],
            "event_id long, event_type string, value double")
        got = {r["bkt"]: r["cnt"] for r in hist_partials(
            wild, F.lit(row["vlo"]), F.lit(row["vhi"])).collect()}
        assert got == {0: 1, 63: 1}
        base_total = (read_bucketed(spark, f"{db}.h_hist")
                      .agg(F.sum("cnt")).collect()[0][0])
        assert base_total == corpus.filter(
            F.col("value").isNotNull()).count()


def test_bm25_delete_of_absent_ids_is_noop(spark, sf_dir):
    """Deleting ids that are not in the index must leave postings AND
    the stats row bit-identical (the subtract leg sees zero rows)."""
    from legate_dataframe_spark.pipeline.text import (
        build_bm25_index,
        delete_from_bm25_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    with temp_db(spark, "ldf_t8_bmnoop") as db:
        build_bm25_index(spark, corpus, f"{db}.idx")
        before_stats = spark.table(f"{db}.idx_stats").collect()
        before_n = spark.table(f"{db}.idx_postings").count()
        delete_from_bm25_index(
            spark, spark.createDataFrame([(10**9,), (10**9 + 1,)],
                                         "doc_id long"),
            f"{db}.idx")
        assert spark.table(f"{db}.idx_stats").collect() == before_stats
        assert spark.table(f"{db}.idx_postings").count() == before_n


def test_interval_join_emits_pairs_once_no_distinct(spark, sf_dir):
    """The r08 rewrite's plan pin: the asymmetric point-in-interval
    join emits each pair exactly once, so NO aggregation or exchange
    keyed on the output pair may appear (the old symmetric form's
    .distinct() shuffled the full pair set — 1.29B candidates at 10×
    for a 51M answer)."""
    import contextlib as _ctx
    import io
    import re as _re

    from legate_dataframe_spark.plans.registry import QUERIES

    buf = io.StringIO()
    with _ctx.redirect_stdout(buf):
        QUERIES["interval_overlap_join"](spark, sf_dir).explain(
            mode="formatted")
    plan = buf.getvalue()
    assert not _re.search(r"hashpartitioning\(key_a", plan), plan
    assert not _re.search(r"Keys \[3\]: \[key_a", plan), plan


@pytest.mark.parametrize("name", ["dedup_index_delete", "ann_index_delete",
                                  "bm25_index_insert"])
def test_round8_queries_run_on_tiny_sf(spark, sf_dir, name):
    """Smoke: the round-8 registry entries execute end-to-end at
    sf0.001 and return non-empty, stable-schema results (full value
    parity lives in test_oracle_parity.py)."""
    from legate_dataframe_spark.plans.registry import QUERIES

    out = QUERIES[name](spark, sf_dir)
    assert len(out.columns) >= 3
    assert out.count() >= 0
