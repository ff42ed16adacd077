"""Round-7 unit tests: generation swap mechanics, minhash index
INSERT equivalence, and the winsorize scale-shape pin.

Value correctness of every round-7 registry entry is covered by
tests/test_oracle_parity.py (sf0.001) and the driver gate (sf0.01);
these tests pin the MECHANISMS the queries rely on.
"""

from __future__ import annotations

import contextlib
import io
import re
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.registry import QUERIES


def plan_of(df, mode="simple"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


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


def test_insert_into_minhash_index_matches_fresh_build(spark, sf_dir):
    """build(corpus) + insert(batch) must serve the SAME corpus-internal
    pair set as a fresh build over corpus ∪ batch — the invariant the
    components chain's Tuesday merge rests on."""
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        insert_into_minhash_index,
        minhash_pairs_from_index,
    )
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    with temp_db(spark, "ldf_t7_mh") as db:
        build_minhash_index(spark, corpus, f"{db}.inc")
        insert_into_minhash_index(spark, batch, f"{db}.inc")
        build_minhash_index(spark, d, f"{db}.full")
        got = sorted(map(tuple, minhash_pairs_from_index(
            spark, f"{db}.inc").collect()))
        want = sorted(map(tuple, minhash_pairs_from_index(
            spark, f"{db}.full").collect()))
        assert got == want and len(want) > 0


def test_winsorize_has_no_corpus_sized_window(spark, sf_dir):
    """VERDICT r06 "What's wrong" #1: the original winsorize ranked
    every row of each event_type inside ONE window task
    (``row_number over (partition by event_type order by value)``).
    The counting-selection rewrite must not plan that shape: no window
    may partition by event_type alone ordered by the raw value column.
    The windows that remain are bounded — the histogram cumsum (≤4096
    rows/type) and the in-located-bin rank (≈ n/4096 rows, keyed by
    (event_type, tgt))."""
    plan = plan_of(QUERIES["winsorize_stats"](spark, sf_dir), "formatted")
    assert not re.search(
        r"windowspecdefinition\(event_type#\d+, value#\d+ ASC", plan), (
        "corpus-sized per-type window sort is back:\n" + plan)
    # and the bounded windows it SHOULD have are present
    assert re.search(r"windowspecdefinition\(event_type#\d+, bkt#\d+ ASC",
                     plan)


def test_winsorize_thresholds_match_full_sort(spark, sf_dir):
    """Counting selection must pick bit-identical thresholds to the
    straightforward full-sort rank pick it replaced."""
    from legate_dataframe_spark.plans.relational import load_table
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"))
    pick = lambda p: F.max(F.when(  # noqa: E731
        F.col("rn") == F.floor(p * (F.col("n") - 1)) + 1, F.col("value")))
    want = {r["event_type"]: (r["p05"], r["p95"])
            for r in (ranked.groupBy("event_type")
                      .agg(pick(0.05).alias("p05"), pick(0.95).alias("p95"))
                      .collect())}
    got = {r["event_type"]: (r["p05"], r["p95"])
           for r in QUERIES["winsorize_stats"](
               spark, sf_dir).select("event_type", "p05", "p95").collect()}
    assert got == want


def test_rollup_chain_second_merge_sees_first(spark, sf_dir):
    """The write-back actually happened: after the Monday swap, the
    state table itself (not just the returned frame) must contain
    Monday's contribution — i.e. a fresh read of the state equals the
    corpus+Monday recompute."""
    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        swap_versioned,
    )
    from legate_dataframe_spark.pipeline.rollup import (
        GROUP_KEYS,
        build_rollup_index,
        event_partials,
        incremental_rollup_update,
    )
    from legate_dataframe_spark.plans.relational import load_table

    e = load_table(spark, sf_dir, "events")
    corpus = e.filter(F.col("event_id") % 10 >= 2)
    monday = e.filter(F.col("event_id") % 10 == 0)

    with temp_db(spark, "ldf_t7_chain") as db:
        build_rollup_index(spark, corpus, f"{db}.state")
        gen2 = incremental_rollup_update(spark, f"{db}.state", monday)
        swap_versioned(spark, gen2, f"{db}.state", GROUP_KEYS,
                       num_buckets=16)
        got = sorted(map(tuple, read_bucketed(
            spark, f"{db}.state").collect()))
        want = sorted(map(tuple, event_partials(
            corpus.unionByName(monday)).collect()))
        assert got == want


@pytest.mark.parametrize("name", ["dedup_serve_only", "ann_serve_only",
                                  "bm25_serve_only", "rollup_serve_only",
                                  "components_serve_only"])
def test_serve_only_reuses_cached_index(spark, sf_dir, name):
    """Second invocation must reuse the session-cached index (no
    rebuild): the cache dict holds exactly one db per (kind, sf_dir)
    and repeated calls return identical values."""
    from legate_dataframe_spark.plans import round7

    a = QUERIES[name](spark, sf_dir)
    n_dbs = len(round7._SERVE_DBS)
    b = QUERIES[name](spark, sf_dir)
    assert len(round7._SERVE_DBS) == n_dbs  # no new build
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
