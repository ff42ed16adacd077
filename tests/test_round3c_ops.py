"""Unit tests for the round-3 tail operators: Bloom-pruned
decontamination, degree-oriented triangle counting, Misra–Gries heavy
hitters, BPE learn/apply, Z-order writes, parquet compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from legate_dataframe_spark.core.manifest import _bloom_hits, _bloom_positions
from legate_dataframe_spark.pipeline.dedup import bloom_bitmap
from legate_dataframe_spark.pipeline.graph import triangle_counts


def test_bloom_no_false_negatives(spark):
    # every inserted digest must pass the membership test (the exactness
    # argument for bloom_cross_corpus_overlap rests on this)
    digs = spark.range(0, 500).select(F.md5(F.col("id").cast("string"))
                                      .alias("dig"))
    bm = bloom_bitmap(digs, m_bits=1 << 12, n_hashes=3)
    probed = (digs.select("dig", *_bloom_positions(F.col("dig"), 1 << 12, 3))
              .join(F.broadcast(bm))
              .filter(_bloom_hits(3)))
    assert probed.count() == 500


def test_bloom_prunes_non_members(spark):
    # disjoint probe set: a 2^14-bit filter holding 100 keys should
    # reject the vast majority of 1000 non-members (fp rate ~(k*n/m)^k)
    members = spark.range(0, 100).select(
        F.md5(F.col("id").cast("string")).alias("dig"))
    probes = spark.range(10_000, 11_000).select(
        F.md5(F.col("id").cast("string")).alias("dig"))
    bm = bloom_bitmap(members, m_bits=1 << 14, n_hashes=3)
    hits = (probes.select("dig", *_bloom_positions(F.col("dig"), 1 << 14, 3))
            .join(F.broadcast(bm))
            .filter(_bloom_hits(3))
            .count())
    assert hits < 50  # << 1000; generous bound keeps the test stable


def test_triangle_counts_handcrafted(spark):
    # graph: triangle {1,2,3}, triangle {2,3,4} (sharing edge 2-3),
    # plus a dangling edge 4-5.  Expect: 1→1, 2→2, 3→2, 4→1.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4), (4, 3), (4, 5)],
        ["src", "dst"])
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_direction_and_dup_invariant(spark):
    # duplicate and reversed edges must not change the count
    base = [(1, 2), (2, 3), (3, 1)]
    noisy = base + [(2, 1), (3, 2), (1, 3), (1, 2), (1, 2)]
    e1 = spark.createDataFrame(base, ["src", "dst"])
    e2 = spark.createDataFrame(noisy, ["src", "dst"])
    c1 = sorted(map(tuple, triangle_counts(e1).collect()))
    c2 = sorted(map(tuple, triangle_counts(e2).collect()))
    assert c1 == c2 == [(1, 1), (2, 1), (3, 1)]


def test_heavy_hitters_exact_vs_naive(spark):
    # skewed stream split across many partitions: sketch+recount must
    # equal the naive exact groupBy answer
    import pyspark.sql.functions as SF

    from legate_dataframe_spark.pipeline.frequency import heavy_hitters

    # item i appears ~ 2000/(i+1) times (Zipf-ish), shuffled over 16
    # partitions; min_share 0.05 of ~7000 rows
    items = (spark.range(0, 2000)
             .select(SF.floor(2000 / (SF.col("id") + 1)).alias("reps"),
                     SF.col("id"))
             .filter(SF.col("id") < 40)
             .select(SF.explode(SF.sequence(SF.lit(1), SF.col("reps")))
                     .alias("_"), SF.concat(SF.lit("tok"), SF.col("id"))
                     .alias("item"))
             .repartition(16))
    got = {(r["item"], r["n_occurrences"])
           for r in heavy_hitters(items, "item", min_share=0.05,
                                  n_counters=20).collect()}
    total = items.count()
    exact = {(r["item"], r["n"])
             for r in items.groupBy("item").agg(SF.count("*").alias("n"))
             .filter(SF.col("n") >= total * 0.05).collect()}
    assert got == exact and got


def test_heavy_hitters_rejects_unsafe_n_counters(spark):
    # n_counters below ceil(1/min_share) voids the no-false-negative
    # guarantee — must refuse, not silently drop heavy hitters
    import pytest

    from legate_dataframe_spark.pipeline.frequency import heavy_hitters

    items = spark.range(0, 10).select(F.col("id").cast("string")
                                      .alias("item"))
    with pytest.raises(ValueError, match="ceil"):
        heavy_hitters(items, "item", min_share=0.05, n_counters=8)


def test_heavy_hitters_all_below_threshold(spark):
    from legate_dataframe_spark.pipeline.frequency import heavy_hitters

    # uniform items, share 1/100 each, threshold 5% → empty result
    items = (spark.range(0, 1000)
             .select((F.col("id") % 100).cast("string").alias("item"))
             .repartition(8))
    assert heavy_hitters(items, "item", min_share=0.05).count() == 0


def test_bpe_merges_classic_corpus(spark):
    # Sennrich et al.'s worked example: low*5 lower*2 newest*6 widest*3
    # → first merges are (e,s)->es then (es,t)->est, with count-weighted
    # frequencies 9 (newest+widest)
    from legate_dataframe_spark.pipeline.bpe import (
        learn_bpe_merges,
        word_histogram,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = (learn_bpe_merges(word_histogram(docs), n_merges=4)
            .orderBy("round").collect())
    got = [(r["round"], r["a"], r["b"], r["merged"], r["freq"])
           for r in rows]
    assert got[0] == (1, "e", "s", "es", 9)
    assert got[1] == (2, "es", "t", "est", 9)
    assert got[2] == (3, "l", "o", "lo", 7)
    assert got[3] == (4, "lo", "w", "low", 7)


def test_bpe_merge_is_greedy_left_to_right(spark):
    # 'aaaa' under pair (a,a) must become [aa][aa]; 'aaa' → [aa][a] —
    # the replace-all-over-bracket-encoding equivalence to greedy BPE
    from legate_dataframe_spark.pipeline.bpe import learn_bpe_merges

    words = spark.createDataFrame([("aaaa", 10), ("aaa", 1)],
                                  ["w", "cnt"])
    rows = (learn_bpe_merges(words, n_merges=2).orderBy("round").collect())
    # round 1: pair (a,a) appears 3x in 'aaaa' (weight 10) + 2x in
    # 'aaa' → freq 32; round 2 works on [aa][aa] / [aa][a]:
    # (aa,aa) weight 10 vs (aa,a) weight 1
    assert (rows[0]["merged"], rows[0]["freq"]) == ("aa", 32)
    assert (rows[1]["merged"], rows[1]["freq"]) == ("aaaa", 10)


def test_bpe_apply_encodes_with_learned_merges(spark):
    # merges learned from the classic corpus (es, est, lo, low): the
    # unseen word 'lowest' must encode as [low][est] = 2 tokens
    from legate_dataframe_spark.pipeline.bpe import (
        apply_bpe_merges,
        learn_bpe_merges,
        word_histogram,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    train = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    merges = learn_bpe_merges(word_histogram(train), n_merges=4)
    probe = spark.createDataFrame([(9, "lowest"), (10, "low low"),
                                   (11, "")], ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"])
           for r in apply_bpe_merges(probe, merges).collect()}
    assert got[9] == (1, 2)    # [low][est]
    assert got[10] == (2, 2)   # [low] [low]
    assert got[11] == (0, 0)


def test_zorder_write_narrows_both_dims(spark, tmp_path):
    """zorder_by must narrow per-file value ranges on BOTH keyed
    columns; single-column cluster_by narrows its own column but
    leaves the other full-span."""
    import glob

    import pyarrow.parquet as pq

    from legate_dataframe_spark.sources.parquet import parquet_write

    # two independent uniform dims (decorrelated via distinct odd
    # multipliers mod 2^16)
    n = 1 << 16
    df = (spark.range(0, n, numPartitions=8)
          .withColumn("x", (F.col("id") * 48271) % n)
          .withColumn("y", (F.col("id") * 16807) % n))

    def mean_rg_span(d, col_idx):
        # zone maps prune per ROW GROUP — file-level ranges understate
        # narrowing whenever a writer coalesces to few files
        spans_ = []
        for p in sorted(glob.glob(f"{d}/part-*.parquet")):
            md = pq.ParquetFile(p).metadata
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(col_idx).statistics
                spans_.append(s.max - s.min)
        return sum(spans_) / len(spans_)

    plain, zo, cl = (str(tmp_path / s) for s in ("plain", "zo", "cl"))
    parquet_write(df, plain)
    parquet_write(df, zo, zorder_by=["x", "y"], n_files=16)
    parquet_write(df, cl, cluster_by=["x"], n_files=16)
    dom = n - 1
    # x is col 1, y is col 2; unsorted row groups span ~the full domain
    assert mean_rg_span(plain, 1) > dom * 0.8
    assert mean_rg_span(plain, 2) > dom * 0.8
    assert mean_rg_span(zo, 1) < dom * 0.6        # x narrowed
    assert mean_rg_span(zo, 2) < dom * 0.6        # y narrowed TOO
    assert mean_rg_span(cl, 1) < dom * 0.3        # control: cluster_by
    assert mean_rg_span(cl, 2) > dom * 0.8        # ...narrows x only


def test_zorder_excludes_cluster_by(spark, tmp_path):
    import pytest as _pytest

    from legate_dataframe_spark.sources.parquet import parquet_write

    df = spark.range(0, 10).withColumn("x", F.col("id") % 3)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        parquet_write(df, str(tmp_path / "out"), cluster_by=["x"],
                      zorder_by=["x", "id"])


def test_compact_parquet_dir(spark, tmp_path):
    """Many small appended files must compact to the byte-derived
    target count, preserve every row, and (with cluster_by) restore
    narrow per-file ranges."""
    import glob

    import pyarrow.parquet as pq

    from legate_dataframe_spark.sources.parquet import compact_parquet_dir

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    # 24 tiny append files, unsorted keys
    for i in range(24):
        (spark.range(i * 1000, (i + 1) * 1000)
         .withColumn("k", (F.col("id") * 7919) % 24_000)
         .write.mode("append").parquet(src))
    assert len(glob.glob(f"{src}/part-*.parquet")) >= 24

    n_out = compact_parquet_dir(spark, src, dst, target_mb=1,
                                cluster_by=["k"])
    assert n_out < 24
    orig = spark.read.parquet(src)
    comp = spark.read.parquet(dst)
    assert comp.count() == 24_000
    assert orig.exceptAll(comp).count() == 0
    # clustered rewrite: per-file k ranges are disjoint slices
    ranges = []
    for p in sorted(glob.glob(f"{dst}/part-*.parquet")):
        md = pq.ParquetFile(p).metadata
        st = md.row_group(0).column(1).statistics
        lo, hi = st.min, st.max
        for rg in range(1, md.num_row_groups):
            s = md.row_group(rg).column(1).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        ranges.append((lo, hi))
    ranges.sort()
    if len(ranges) > 1:
        assert all(ranges[i][1] <= ranges[i + 1][0]
                   for i in range(len(ranges) - 1))


def test_compact_parquet_dir_hive_partitioned(spark, tmp_path):
    """Hive-partitioned source: data files live under key=value
    subdirs, so sizing must walk the tree (a top-level glob sees
    nothing and would collapse the table into one file)."""
    import glob

    import pytest

    from legate_dataframe_spark.sources.parquet import compact_parquet_dir

    src, dst = str(tmp_path / "hsrc"), str(tmp_path / "hdst")
    for i in range(8):
        (spark.range(i * 4000, (i + 1) * 4000)
         .withColumn("part_key", F.col("id") % 4)
         .withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
         .write.mode("append").partitionBy("part_key").parquet(src))
    assert not glob.glob(f"{src}/*.parquet")  # files only under part_key=*

    n_out = compact_parquet_dir(spark, src, dst, target_mb=1)
    # byte-derived count from the real (nested) files, not the n=1
    # fallback of an empty listing
    total_mb = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(f"{src}/**/*.parquet", recursive=True)
    ) / (1 << 20)
    assert n_out == max(1, round(total_mb))
    assert spark.read.parquet(dst).count() == 32_000

    with pytest.raises(ValueError, match="no parquet data files"):
        compact_parquet_dir(spark, str(tmp_path / "empty"), dst)


def test_leakage_free_split_no_straddling_clusters(spark, sf_dir):
    """The property the operator exists for: no near-dup cluster may
    appear in more than one split (doc-keyed splits violate this
    whenever a clustered pair hashes to different sides)."""
    from legate_dataframe_spark.pipeline import sampling
    from legate_dataframe_spark.pipeline.components import (
        connected_components,
    )
    from legate_dataframe_spark.plans.pipeline_queries import dedup_minhash
    from legate_dataframe_spark.plans.relational import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    docs = (d.select("doc_id")
            .join(comp.select(F.col("node").alias("doc_id"), "component"),
                  "doc_id", "left")
            .select("doc_id", F.coalesce("component", "doc_id")
                    .alias("rep")))
    sp = sampling.split_by_hash(
        docs, "rep", {"train": 0.9, "val": 0.05, "test": 0.05})
    straddle = (sp.groupBy("rep")
                .agg(F.count_distinct("split").alias("ns"))
                .filter(F.col("ns") > 1).count())
    assert straddle == 0
    # and there IS at least one multi-doc cluster in the fixture, so
    # the guarantee is non-vacuous
    multi = (sp.groupBy("rep").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") > 1).count())
    assert multi > 0
