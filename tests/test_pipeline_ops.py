"""Pipeline operators: dedup correctness on constructed near-dups,
similarity search recall, text analysis edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legate_dataframe_spark.pipeline import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")          # near-dup of base
    far = "completely different words about spark shuffles and parquet files here"
    rows = [
        (1, base, "en", "s1"),
        (2, base.upper(), "en", "s1"),                # exact dup modulo case
        (3, near, "en", "s1"),
        (4, far, "en", "s2"),
        (5, "tiny", "en", "s2"),                      # shorter than shingle k
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string, lang: string, source: string")


def test_exact_dedup_normalizes_case(docs):
    out = dedup.exact_dedup(docs).collect()
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in out}
    assert by_keeper[1] == 2      # 1 and 2 collapse
    assert by_keeper[3] == 1 and by_keeper[4] == 1 and by_keeper[5] == 1


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got          # identical after lowering
    assert (1, 3) in got          # one-word edit
    assert all(p[0] != 4 and p[1] != 4 for p in got)  # unrelated doc absent


_STORY = "a very specific story about a fox crossing a frozen river at dawn"


@pytest.mark.parametrize("pairs, near", [
    (lambda df, **kw: dedup.minhash_lsh_pairs(df, jaccard_threshold=0.5,
                                              **kw),
     _STORY.replace("dawn", "dusk")),
    # one appended word moves the SimHash by 1 bit (the dusk edit moves
    # it by 7, past max_hamming=3)
    (lambda df, **kw: dedup.simhash_pairs(df, max_hamming=3, **kw),
     _STORY + " today"),
], ids=["minhash_lsh_pairs", "simhash_pairs"])
def test_minhash_bucket_cap_skips_boilerplate_cluster(spark, pairs, near):
    # 12 copies of one template + 1 genuine near-dup pair elsewhere:
    # with max_bucket_size the template's O(k²) pairs disappear while
    # the small cluster survives.
    tmpl = "standard legal boilerplate footer text repeated on every page exactly"
    rows = [(i, tmpl) for i in range(12)] + [(100, _STORY), (101, near)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    capped = pairs(df, max_bucket_size=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {(100, 101)}
    # uncapped finds the full template clique too
    full = [(r["id_a"], r["id_b"]) for r in pairs(df).collect()]
    assert len(full) == 12 * 11 // 2 + 1 and (100, 101) in full


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, ["source"], threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 3)] < 1.0


def test_short_doc_has_no_shingles(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id: long, text: string")
    out = df.select(dedup.word_shingles(F.col("text")).alias("sh")).collect()
    assert out[0]["sh"] == []


def test_simhash_identical_docs_same_signature(docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sig[1] == sig[2]       # case-normalized identical
    assert sig[1] != sig[4]


def test_simhash_pairs_exact_dup_and_excludes_short(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0                 # identical after lowering
    assert all(5 not in p for p in pairs)     # shingle-less doc excluded
    assert all(4 not in p for p in pairs)     # unrelated doc absent


def test_cosine_neardup_pairs_finds_clustered_vectors(vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in similarity.cosine_neardup_pairs(
                 vectors, threshold=0.99, dim=3).collect()}
    assert (10, 11) in pairs                  # same-direction vectors
    assert pairs[(10, 11)] > 0.99
    assert all({0, 1} != set(p) for p in pairs)  # orthogonal axes absent


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 clusters along axes; vec 0/1/2 are centroid-ish
    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0]),
        (10, [0.9, 0.1, 0.0]), (11, [0.95, 0.05, 0.0]),
        (20, [0.1, 0.9, 0.0]), (21, [0.0, 0.98, 0.1]),
        (30, [0.0, 0.1, 0.9]),
    ]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_brute_force_topk(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(vectors, q, k=2).collect()
    assert [r["c_id"] for r in sorted(out, key=lambda r: r["rank"])] == [11, 10]


def test_ivf_assign_clusters(vectors):
    cen = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    got = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(vectors, cen).collect()}
    assert got[10] == 0 and got[11] == 0
    assert got[20] == 1 and got[21] == 1
    assert got[30] == 2


def test_kmeans_refine_moves_centroids_to_cluster_means(vectors):
    cen = {r.centroid_id: r.embedding
           for r in similarity.kmeans_refine(vectors, k=3, n_iter=2).collect()}
    assert set(cen) == {0, 1, 2}
    # centroid 0's cluster = {0,10,11}: mean x ≈ (1+.9+.95)/3 = .95
    assert abs(cen[0][0] - 0.95) < 0.01
    # each refined centroid stays dominant on its own axis
    for cid in (0, 1, 2):
        assert cen[cid][cid] == max(cen[cid])


def test_kmeans_refine_partition_invariant(vectors):
    a = sorted(map(repr, similarity.kmeans_refine(vectors, 3, 2).collect()))
    b = sorted(map(repr, similarity.kmeans_refine(
        vectors.repartition(7), 3, 2).collect()))
    assert a == b


def test_ivf_search_matches_brute_force_on_probed_clusters(vectors):
    cen = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    assigned = vectors.join(
        similarity.ivf_assign(vectors, cen).select("vec_id", "centroid_id"), "vec_id")
    q = vectors.filter(F.col("vec_id") == 10)
    got = similarity.ivf_search(assigned, cen, q, k=2, n_probe=1).collect()
    assert [r["c_id"] for r in sorted(got, key=lambda r: r["rank"])] == [11, 0]


def test_text_quality_and_stats(spark):
    rows = [(1, "the cat and the dog in a house with the mouse for fun"),
            (2, "x")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    stats = {r["doc_id"]: r for r in text.text_stats(df).collect()}
    assert stats[1]["n_tokens"] == 13
    assert stats[2]["n_tokens"] == 1 and stats[2]["n_chars_c"] == 1
    quality = {r["doc_id"]: r["quality"] for r in text.quality_score(df).collect()}
    assert quality[1] > quality[2]


def test_lang_id_votes(spark):
    rows = [(1, "the cat and the dog is in it for now"),
            (2, "el perro y la casa de que un gato con los"),
            (3, "zzz qqq www")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([(1, "b a c"), (2, "c b a"), (3, "a b d")],
                               "doc_id: long, text: string")
    fp = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def test_simhash_wide_radius_auto_widens_bands(spark):
    """max_hamming > bands-1 must still recall exactly (multi-index
    banding: bands auto-widen to max_hamming+1).  Signatures are
    handcrafted so the 4 differing bits corrupt all 4 original uniform
    bands of a 16-bit/4-band split — the pre-widening scheme would miss
    the pair; pigeonhole over 5 bands cannot."""
    base = 0b1010_0110_0101_1001
    # flip one bit inside each uniform 4-bit band (positions 0,5,10,15)
    worst = base ^ ((1 << 0) | (1 << 5) | (1 << 10) | (1 << 15))
    far = base ^ 0b0110_1011_1010_0110  # hamming 9 — must stay excluded
    sig = spark.createDataFrame(
        [(1, base), (2, worst), (3, far)], "id: long, simhash: long")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs_from_signatures(
                 sig, bits=16, bands=4, max_hamming=4).collect()}
    assert pairs == {(1, 2): 4}


def test_simhash_pairs_from_signatures_matches_bruteforce(spark):
    """Banded recall == brute-force Hamming filter on a random-ish set
    (exactness, not just the constructed worst case)."""
    import itertools
    vals = [(i, (i * 2654435761) % (1 << 20)) for i in range(40)]
    want = {(a, b) for (a, va), (b, vb) in itertools.combinations(vals, 2)
            if bin(va ^ vb).count("1") <= 6}
    sig = spark.createDataFrame(vals, "id: long, simhash: long")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_pairs_from_signatures(
               sig, bits=20, bands=3, max_hamming=6).collect()}
    assert got == want


def test_levenshtein_pairs_typo_neardups(spark):
    """Character-level near-dups (small typos) pair with their exact
    edit distance; unrelated docs and over-threshold edits don't."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("quick", "qvick")),            # 1 edit
        (3, "a completely different document about spark and arrow ok"),
        (4, base + " " + "extra " * 30),                # way past 20%
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = {(r["id_a"], r["id_b"]): r["edit_dist"]
             for r in dedup.levenshtein_pairs(df, max_rel_dist=0.2).collect()}
    assert pairs[(1, 2)] == 1
    assert all(3 not in p for p in pairs)
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_pq_encode_compact_codes(vectors):
    """PQ codes: m small ints per vector, all in [0, k)."""
    cb = similarity.pq_train(vectors, m=3, k=3, dim=3, n_iter=1)
    codes = similarity.pq_encode(vectors, cb, m=3, dim=3).collect()
    n_vecs = vectors.count()
    assert len(codes) == n_vecs * 3  # one code per (vector, subspace)
    assert all(0 <= r["code"] < 100 for r in codes)
    cids = {r["cid"] for r in cb.collect()}
    assert all(r["code"] in cids for r in codes)


def test_pq_adc_search_finds_cluster_neighbors(vectors):
    """ADC top-k on the axis clusters must rank same-cluster vectors
    first (approximate, but this geometry is unambiguous)."""
    cb = similarity.pq_train(vectors, m=3, k=3, dim=3, n_iter=1)
    codes = similarity.pq_encode(vectors, cb, m=3, dim=3)
    q = vectors.filter(F.col("vec_id") == 10)
    out = sorted(similarity.pq_adc_search(codes, cb, q, topk=3, m=3, dim=3)
                 .collect(), key=lambda r: r["rank"])
    # 0/11 share vec-10's quantization cell; axis-y/z clusters do not
    top = {r["c_id"] for r in out[:2]}
    assert top <= {0, 11, 1}
    assert all(r1["approx_d2"] <= r2["approx_d2"]
               for r1, r2 in zip(out, out[1:]))


def test_new_ops_empty_input(spark):
    """Empty corpora must yield empty results, not errors (the classic
    breakage for multi-stage pipelines with seeds/limits)."""
    empty_docs = spark.createDataFrame([], "doc_id: long, text: string")
    assert dedup.levenshtein_pairs(empty_docs).count() == 0
    empty_vecs = spark.createDataFrame([], "vec_id: long, embedding: array<float>")
    cb = similarity.pq_train(empty_vecs, m=2, k=2, dim=4, n_iter=1)
    assert cb.count() == 0
    assert similarity.pq_encode(empty_vecs, cb, m=2, dim=4).count() == 0
    assert similarity.pq_adc_search(
        similarity.pq_encode(empty_vecs, cb, m=2, dim=4), cb,
        empty_vecs, topk=3, m=2, dim=4).count() == 0


def test_ivfpq_search_prunes_to_probed_clusters(vectors):
    """IVF-PQ candidates must come only from probed coarse clusters."""
    coarse = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    cb = similarity.pq_train(vectors, m=3, k=3, dim=3, n_iter=1)
    q = vectors.filter(F.col("vec_id") == 10)
    out = similarity.ivfpq_search(vectors, coarse, cb, q, topk=8,
                                  n_probe=1, m=3, dim=3).collect()
    assert out, "probed cluster must yield candidates"
    # with n_probe=1 only x-axis cluster members (0, 11) are candidates
    assert {r["c_id"] for r in out} <= {0, 11}
    assert all(r["q_id"] == 10 for r in out)


def test_chunk_documents_covers_and_overlaps(spark):
    """Chunks tile the token stream: consecutive chunks share exactly
    `overlap` tokens and their union reconstructs the document."""
    from legate_dataframe_spark.pipeline import text as T

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame([(1, words), (2, "short doc")],
                               "doc_id: long, text: string")
    out = sorted(T.chunk_documents(df, chunk_tokens=10, overlap=2).collect(),
                 key=lambda r: (r.doc_id, r.chunk_id))
    d1 = [r for r in out if r.doc_id == 1]
    # 25 tokens, step 8 -> ceil((25-2)/8) = 3 chunks
    assert [r.chunk_id for r in d1] == [0, 1, 2]
    assert d1[0].chunk_text.split()[-2:] == d1[1].chunk_text.split()[:2]
    rebuilt = d1[0].chunk_text.split()
    for r in d1[1:]:
        rebuilt += r.chunk_text.split()[2:]
    assert rebuilt == words.split()
    d2 = [r for r in out if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 2


def test_pack_sequences_capacity_and_determinism(spark):
    """Packs respect capacity at their start boundary; assignment is
    deterministic and append-stable (adding docs never reassigns
    existing ones)."""
    from legate_dataframe_spark.pipeline import text as T

    docs = [(i, " ".join(["tok"] * 10)) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           T.pack_sequences(df, max_tokens=25, n_buckets=4).collect()}
    assert all(r.n_tokens == 10 for r in out.values())
    # within a bucket, pack_id is nondecreasing in doc order and a new
    # pack opens when the running start offset crosses the capacity
    by_bucket = {}
    for r in sorted(out.values(), key=lambda r: (r.bucket, r.doc_id)):
        start = by_bucket.get(r.bucket, 0)
        assert r.pack_id == start // 25
        by_bucket[r.bucket] = start + r.n_tokens
    # append-stability: re-run with 10 more docs; originals unchanged
    df2 = spark.createDataFrame(
        docs + [(100 + i, "x y z") for i in range(10)],
        "doc_id: long, text: string")
    out2 = {r.doc_id: (r.bucket, r.pack_id) for r in
            T.pack_sequences(df2, max_tokens=25, n_buckets=4).collect()}
    assert all(out2[i] == (out[i].bucket, out[i].pack_id) for i in range(40))


def test_repetition_signals_gopher_semantics(spark):
    """dup-line fraction and modal-bigram fraction match hand-computed
    values (incl. the empty-document degenerate case)."""
    from legate_dataframe_spark.pipeline.text import repetition_signals

    df = spark.createDataFrame([
        (1, "a b\na b\nc d"),   # 3 lines, 1 dup; bigram 'a b' 2/5
        (2, "x y x y x y"),     # bigram 'x y' 3 of 5
        (3, ""),
    ], "doc_id: long, text: string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert abs(out[1].dup_line_frac - 1 / 3) < 1e-6
    assert abs(out[1].top_bigram_frac - 0.4) < 1e-6
    assert out[2].dup_line_frac == 0.0
    assert abs(out[2].top_bigram_frac - 0.6) < 1e-6
    assert out[3].dup_line_frac == 0.0 and out[3].top_bigram_frac == 0.0


def test_cross_corpus_overlap_flags_contaminated(spark):
    """A training doc containing a benchmark passage is flagged with
    the shared-shingle count; clean docs are not."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id: long, text: string")
    train = spark.createDataFrame([
        (1, "intro text then the quick brown fox jumps over the lazy dog"),
        (2, "a completely unrelated training document about databases"),
    ], "doc_id: long, text: string")
    out = {(r.train_id, r.bench_id): r.n_shared
           for r in dedup.cross_corpus_overlap(
               train, bench, shingle_k=5, min_shared=2).collect()}
    assert (1, 100) in out and out[(1, 100)] >= 2
    assert all(t != 2 for t, _ in out)


def test_cross_corpus_overlap_stop_shingle_guard(spark):
    """max_shingle_df drops shingles shared by too many benchmark docs
    (boilerplate), removing their pairs."""
    boiler = "terms of service apply to all users here"
    bench = spark.createDataFrame(
        [(i, boiler) for i in range(100, 105)],
        "doc_id: long, text: string")
    train = spark.createDataFrame([(1, boiler)],
                                  "doc_id: long, text: string")
    hits = dedup.cross_corpus_overlap(train, bench, shingle_k=5,
                                      min_shared=2).count()
    guarded = dedup.cross_corpus_overlap(train, bench, shingle_k=5,
                                         min_shared=2,
                                         max_shingle_df=3).count()
    assert hits == 5 and guarded == 0


def test_stratified_sample_exact_k_and_deterministic(spark):
    from legate_dataframe_spark.pipeline.sampling import stratified_sample

    rows = [(i, "g1" if i < 30 else "g2") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, grp: string")
    a = {r.doc_id for r in stratified_sample(df, ["grp"], k=5).collect()}
    b = {r.doc_id for r in stratified_sample(df, ["grp"], k=5).collect()}
    assert a == b and len(a) == 10  # 5 from each stratum, stable
    # a stratum smaller than k yields all its rows
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id: long, grp: string")
    assert stratified_sample(small, ["grp"], k=5).count() == 2


def test_unigram_logprob_orders_rarity(spark):
    """Docs made of rare tokens must score higher NLL than docs made
    of the corpus-dominant token."""
    from legate_dataframe_spark.pipeline.text import unigram_logprob

    docs = [(1, "common common common common")] * 1
    docs += [(i, "common common") for i in range(2, 10)]
    docs += [(99, "zyx qwv")]  # two singleton tokens
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = {r.doc_id: r.nll for r in unigram_logprob(df).collect()}
    assert out[99] > out[1]
    assert out[1] == out[2]  # same token mix -> same score


def test_bm25_ranks_term_rich_docs_first(spark):
    from legate_dataframe_spark.pipeline.text import bm25_topk

    docs = [(1, "spark shuffle shuffle shuffle join"),
            (2, "spark shuffle join"),
            (3, "unrelated words entirely different"),
            (4, "shuffle " + "filler " * 50)]  # long doc penalized by dl
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = sorted(bm25_topk(df, ["shuffle"], topk=3).collect(),
                 key=lambda r: r["rank"])
    assert [r.doc_id for r in out][:2] == [1, 2]  # tf saturation + dl norm
    assert 3 not in {r.doc_id for r in out}
    assert all(r.bm25 > 0 for r in out)


def test_parse_bytes_spark_conf_formats():
    from legate_dataframe_spark.core.partitioning import _parse_bytes

    assert _parse_bytes(134217728) == 128 << 20
    assert _parse_bytes("134217728") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("4g") == 4 << 30
    assert _parse_bytes(" 512k ") == 512 << 10


def test_widen_partitions_plan_only_decisions(spark, tmp_path):
    """The plan-only split estimate must no-op on already-wide inputs
    (identity — no repartition, no RDD materialization) and widen
    narrow ones."""
    from legate_dataframe_spark.core.partitioning import (
        _scan_split_estimate,
        widen_partitions,
    )

    wide_dir = str(tmp_path / "wide")
    n_files = spark.sparkContext.defaultParallelism + 8
    spark.range(0, 10000, numPartitions=n_files).write.parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    assert _scan_split_estimate(wide) >= spark.sparkContext.defaultParallelism
    assert widen_partitions(wide) is wide  # no-op, same object

    narrow_dir = str(tmp_path / "narrow")
    spark.range(0, 1000, numPartitions=1).write.parquet(narrow_dir)
    narrow = spark.read.parquet(narrow_dir)
    widened = widen_partitions(narrow)
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_scan_split_estimate_falls_back_on_wide_nodes(spark, tmp_path):
    """Frames whose lineage contains ANY non-narrow node — including
    FlatMapGroupsInPandas, which the old blacklist missed (ADVICE r02)
    — must return None so widen_partitions uses the exact probe."""
    import pandas as pd

    from legate_dataframe_spark.core.partitioning import _scan_split_estimate

    d = str(tmp_path / "t")
    spark.range(0, 100, numPartitions=1).write.parquet(d)
    df = spark.read.parquet(d)

    # narrow lineage: estimable
    assert _scan_split_estimate(df.select("id").filter("id > 1")) is not None

    # applyInPandas shuffles to shuffle.partitions: must NOT be
    # estimated from file-split math
    grouped = (df.withColumn("g", df.id % 3).groupBy("g")
               .applyInPandas(lambda p: p, schema="id long, g long"))
    assert _scan_split_estimate(grouped) is None

    # other wide nodes still fall back too
    assert _scan_split_estimate(df.groupBy("id").count()) is None
    assert _scan_split_estimate(df.orderBy("id")) is None
    assert _scan_split_estimate(df.repartition(4)) is None
