"""Round-3b operators: SemDeDup cluster-blocked semantic dedup,
int8 scalar quantization, CCNet segment dedup, TF-IDF keywords,
char-entropy quality signals."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from legate_dataframe_spark.pipeline import similarity, text


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")


def test_semantic_dedup_keeps_lowest_id(spark):
    # cluster A: vectors 0,10,11 all parallel → 10 dups of 0, 11 dups
    # of 0 (lowest qualifying neighbor, not 10); cluster B: 1,12
    # orthogonal to A, 12 parallel to 1 → dup of 1.
    e = _emb(spark, [
        (0, [1.0, 0.0]), (10, [2.0, 0.0]), (11, [3.0, 0.0]),
        (1, [0.0, 1.0]), (12, [0.0, 5.0]),
    ])
    cen = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    got = {r["vec_id"]: (r["dup_of"], r["cos_sim"])
           for r in similarity.semantic_dedup(e, cen, 0.9).collect()}
    assert got == {10: (0, 1.0), 11: (0, 1.0), 12: (1, 1.0)}


def test_semantic_dedup_cross_cluster_pair_not_compared(spark):
    # 5 and 6 are near-identical (cos ≈ 0.980) but straddle the
    # boundary between opposite centroids, so they land in DIFFERENT
    # clusters and are never compared — the documented recall boundary
    # of cluster-blocking (what bounds the work to Σ|cluster|²).
    e = _emb(spark, [(0, [0.0, 1.0]), (1, [0.0, -1.0]),
                     (5, [1.0, 0.1]), (6, [1.0, -0.1])])
    cen = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    got = similarity.semantic_dedup(e, cen, 0.95).collect()
    assert got == []


def test_sq_quantize_codes(spark):
    # dim0 spans [0,4] → codes floor(v/4*256) capped 255; dim1 is
    # constant → code 0 everywhere.
    e = _emb(spark, [(0, [0.0, 7.0]), (1, [1.0, 7.0]), (2, [4.0, 7.0])])
    got = {r["vec_id"]: r["codes"]
           for r in similarity.sq_quantize(e).collect()}
    assert got == {0: [0, 0], 1: [64, 0], 2: [255, 0]}


def test_sq_topk_integer_dot(spark):
    e = _emb(spark, [(0, [1.0, 0.0]), (1, [1.0, 0.25]),
                     (2, [0.0, 1.0]), (3, [0.5, 0.5])])
    sq = similarity.sq_quantize(e)
    q = sq.filter(F.col("vec_id") == 0).select("vec_id", "codes")
    got = [(r["c_id"], r["iprod"], r["rank"])
           for r in similarity.sq_topk(sq.select("vec_id", "codes"), q, k=2)
           .orderBy("rank").collect()]
    # codes: 0→[255,0], 1→[255,64], 2→[0,255], 3→[128,128]
    assert got == [(1, 255 * 255, 1), (3, 255 * 128, 2)]


def test_segment_dedup_removes_cross_doc_segments(spark):
    # 2-token segments: doc1 = [a b][c d], doc2 = [a b][x y],
    # doc3 = [z] (short remainder, unique).  "a b" is cross-doc dup.
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "z")],
        "doc_id: long, text: string")
    got = {r["doc_id"]: (r["n_segments"], r["dup_segments"],
                         r["kept_tokens"])
           for r in text.segment_dedup_stats(df, seg_tokens=2).collect()}
    assert got == {1: (2, 1, 2), 2: (2, 1, 2), 3: (1, 0, 1)}


def test_segment_dedup_within_doc_repeat_not_dup(spark):
    # doc repeats its own segment; no other doc shares it → kept
    df = spark.createDataFrame([(1, "p q p q"), (2, "r s")],
                               "doc_id: long, text: string")
    got = {r["doc_id"]: (r["dup_segments"], r["kept_tokens"])
           for r in text.segment_dedup_stats(df, seg_tokens=2).collect()}
    assert got == {1: (0, 4), 2: (0, 2)}


def test_tfidf_topk_terms(spark):
    # "rare" appears only in doc1 → tfidf = 1·ln(2/1); shared term
    # "common" has idf ln(2/2)=0.
    df = spark.createDataFrame(
        [(1, "common rare"), (2, "common common")],
        "doc_id: long, text: string")
    rows = text.tfidf_topk_terms(df, topk=2).collect()
    got = {(r["doc_id"], r["term"]): (r["tfidf"], r["rank"]) for r in rows}
    assert got[(1, "rare")] == (round(math.log(2), 6), 1)
    assert got[(1, "common")] == (0.0, 2)
    assert got[(2, "common")] == (0.0, 1)
    assert len(rows) == 3


def test_char_entropy_stats(spark):
    # "aabb" → p(a)=p(b)=0.5 → entropy ln 2; "aaaa" → entropy 0;
    # "a b" → 3 chars, one non-alpha (space)
    df = spark.createDataFrame([(1, "aabb"), (2, "aaaa"), (3, "a b")],
                               "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in text.char_entropy_stats(df).collect()}
    assert got[1]["char_entropy"] == round(math.log(2), 6)
    assert (got[1]["n_unique_chars"], got[1]["n_chars_total"]) == (2, 4)
    assert got[1]["non_alpha_ratio"] == 0.0
    assert got[2]["char_entropy"] == 0.0
    assert got[3]["n_chars_total"] == 3
    assert got[3]["non_alpha_ratio"] == round(1 / 3, 6)


def test_lang_mismatch_confusion(spark):
    from legate_dataframe_spark.plans.pipeline_queries import lang_mismatch
    import legate_dataframe_spark.plans.relational as r

    df = spark.createDataFrame(
        [(1, "the cat and the dog", "en"),   # predicted en, declared en
         (2, "el que la de y", "en"),        # predicted es, declared en
         (3, "xyzzy plugh", "de")],          # no stopwords → und
        "doc_id: long, text: string, lang: string")
    orig = r.load_table
    try:
        r.load_table = lambda spark, sf, name: df
        import legate_dataframe_spark.plans.pipeline_queries as pq
        pq.load_table = r.load_table
        got = {(x["lang_declared"], x["lang_pred"]):
               (x["n_docs"], x["is_match"])
               for x in lang_mismatch(spark, "unused").collect()}
    finally:
        r.load_table = orig
        import legate_dataframe_spark.plans.pipeline_queries as pq
        pq.load_table = orig
    assert got == {("en", "en"): (1, True),
                   ("en", "es"): (1, False),
                   ("de", "und"): (1, False)}


def test_zipf_fit_exact_two_point(spark):
    import math

    import legate_dataframe_spark.plans.pipeline_queries as pq

    # freqs: a×4, b×2 → points (ln1, ln4), (ln2, ln2): slope = -1,
    # intercept = ln 4 (exact two-point line)
    df = spark.createDataFrame([(1, "a a a a b b")],
                               "doc_id: long, text: string")
    orig = pq.load_table
    try:
        pq.load_table = lambda spark, sf, name: df
        row = pq.zipf_fit(spark, "unused").collect()[0]
    finally:
        pq.load_table = orig
    assert (row["n_types"], row["n_tokens"]) == (2, 6)
    assert row["zipf_slope"] == -1.0
    assert row["zipf_intercept"] == round(math.log(4), 6)


def test_source_rollup_dups_and_tokens(spark):
    import legate_dataframe_spark.plans.pipeline_queries as pq

    df = spark.createDataFrame(
        [(1, "a b", "web"), (2, "a b", "web"), (3, "c", "web"),
         (4, "d e f", "book")],
        "doc_id: long, text: string, source: string")
    orig = pq.load_table
    try:
        pq.load_table = lambda spark, sf, name: df
        got = {r["source"]: (r["n_docs"], r["exact_dup_docs"],
                             r["total_tokens"])
               for r in pq.source_rollup(spark, "unused").collect()}
    finally:
        pq.load_table = orig
    assert got == {"web": (3, 1, 5), "book": (1, 0, 3)}


def test_weighted_sample_matches_exact_python_replay(spark):
    import hashlib

    import legate_dataframe_spark.plans.pipeline_queries as pq

    # keep-set must equal an exact Python replay of the rule: u(doc) =
    # first 8 md5 hex digits of str(doc_id); keep iff u < quality·2³².
    # good text: quality = 0.4 (length) + 0.3 (stopwords) + 0.3·(10/60
    # diversity) = 0.75;  "x": 0 + 0 + 0.3·(1/1) = 0.3.
    good = ("the and of to a in is that it for " * 6).strip()
    rows = [(i, good if i % 2 == 0 else "x", "en") for i in range(40)]
    expected = []
    for i, _t, _l in rows:
        q = 0.75 if i % 2 == 0 else 0.3
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        if u < q * 4294967296.0:
            expected.append(i)
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    orig = pq.load_table
    try:
        pq.load_table = lambda spark, sf, name: df
        got = sorted(r["doc_id"]
                     for r in pq.weighted_sample(spark, "u").collect())
        again = sorted(r["doc_id"]
                       for r in pq.weighted_sample(spark, "u").collect())
    finally:
        pq.load_table = orig
    assert got == sorted(expected) and got == again and len(got) > 0


def test_psi_drift_identical_halves_zero(spark):
    import datetime as dt

    import legate_dataframe_spark.plans.pipeline_queries as pq

    # same value distribution in both halves → PSI = 0
    rows = []
    eid = 0
    for day in (5, 20):
        for v in (0.0, 1.0, 2.0, 3.0):
            rows.append((eid, dt.datetime(2024, 1, day), 1, "click", v, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, "
              "event_type: string, value: double, props: string")
    orig = pq.load_table
    try:
        pq.load_table = lambda spark, sf, name: df
        got = {r["event_type"]: (r["psi"], r["n_first_half"],
                                 r["n_second_half"])
               for r in pq.psi_drift(spark, "u").collect()}
    finally:
        pq.load_table = orig
    assert got == {"click": (0.0, 4, 4)}


def test_psi_drift_shifted_distribution_positive(spark):
    import datetime as dt

    import legate_dataframe_spark.plans.pipeline_queries as pq

    rows = []
    eid = 0
    for v in (0.0, 0.0, 0.0, 1.0):
        rows.append((eid, dt.datetime(2024, 1, 3), 1, "buy", v, "{}")); eid += 1
    for v in (9.0, 9.0, 9.0, 1.0):
        rows.append((eid, dt.datetime(2024, 1, 25), 1, "buy", v, "{}")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, "
              "event_type: string, value: double, props: string")
    orig = pq.load_table
    try:
        pq.load_table = lambda spark, sf, name: df
        row = pq.psi_drift(spark, "u").collect()[0]
    finally:
        pq.load_table = orig
    assert row["psi"] > 1.0  # mass moved bins 0→9: large drift


def test_ivf_sq_search_prunes_to_probed_clusters(spark):
    # centroids along axes; 4 corpus vecs split into two clusters.
    # query ≈ x-axis with n_probe=1 → only cluster-x candidates can
    # appear even though a cluster-y vector has a larger int dot.
    e = _emb(spark, [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),          # seeds/centroids
        (10, [0.9, 0.1]), (11, [0.8, 0.0]),        # cluster x
        (12, [0.1, 0.9]),                          # cluster y
    ])
    cen = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    sq = similarity.sq_quantize(e)
    corpus = (similarity.ivf_assign(e, cen)
              .select("vec_id", "centroid_id")
              .join(sq.select("vec_id", "codes"), "vec_id"))
    q = (e.filter(F.col("vec_id") == 0)
         .join(sq.select("vec_id", "codes"), "vec_id"))
    got = [r["c_id"] for r in
           similarity.ivf_sq_search(corpus, cen, q, k=5, n_probe=1)
           .orderBy("rank").collect()]
    assert set(got) <= {10, 11}  # cluster-y vec 12 pruned away
    assert len(got) == 2


def test_event_succession_edges(spark):
    import datetime as dt

    from legate_dataframe_spark.pipeline import graph

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 100, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 1), 200, "click", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 2), 200, "click", 1.0, "{}"),  # self
        (4, dt.datetime(2024, 1, 1, 10, 3), 100, "click", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 1, 10, 0), 300, "buy", 1.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 10, 5), 100, "buy", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, "
              "event_type: string, value: double, props: string")
    got = {(r["src"], r["dst"])
           for r in graph.event_succession_edges(df).collect()}
    # click: 100→200 (self 200→200 dropped), 200→100; buy: 300→100
    assert got == {(100, 200), (200, 100), (300, 100)}


def test_pagerank_matches_python_replay(spark):
    from legate_dataframe_spark.pipeline import graph

    edges = [(1, 2), (2, 1), (1, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(df, n_iter=2, damping=0.85).collect()}

    # exact replay of the unrolled iterations with the same rounding
    nodes = {1, 2, 3}
    outdeg = {1: 2, 2: 1, 3: 1}
    r = {v: round(1 / 3, 8) for v in nodes}
    for _ in range(2):
        inflow = {v: 0.0 for v in nodes}
        for s, d in edges:
            inflow[d] += r[s] / outdeg[s]
        r = {v: round(0.15 / 3 + 0.85 * inflow[v], 8) for v in nodes}
    assert got == r
    # structural sanity: 2 has two in-edges and outranks 3 (one, from
    # a split source)
    assert got[2] > got[3]


def test_assign_ties_go_to_lowest_centroid_id(spark):
    # vector 3 is equidistant from both centroids (cos 0.707107 to
    # each) and must land on the LOWER id; ivf_assign is
    # assign_with_payload without payload, so both answer the same
    e = _emb(spark, [
        (3, [1.0, 1.0]),
        (4, [1.0, 0.0]), (5, [0.0, 1.0]),
    ])
    cen = _emb(spark, [(10, [2.0, 0.0]), (11, [0.0, 2.0])]).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    want = {3: (10, 0.707107), 4: (10, 1.0), 5: (11, 1.0)}
    for out in (similarity.assign_with_payload(e, cen, ["embedding"]),
                similarity.ivf_assign(e, cen)):
        got = {r["vec_id"]: (r["centroid_id"], r["cos_sim"])
               for r in out.collect()}
        assert got == want


def test_multi_probe_ties_keep_lowest_centroid_ids(spark):
    # the query is equidistant (cos 0.57735) from all three centroids:
    # n_probe=2 must probe 10 and 11, so vector 120 (cluster 12) is
    # never a candidate; the tied candidates rank by c_id
    corpus = _emb(spark, [(100, [1.0, 0.0, 0.0]), (110, [0.0, 1.0, 0.0]),
                          (120, [0.0, 0.0, 1.0])])
    cen = _emb(spark, [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0]),
                       (12, [0.0, 0.0, 1.0])]).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    q = _emb(spark, [(1, [1.0, 1.0, 1.0])])
    assigned = similarity.assign_with_payload(corpus, cen, ["embedding"])
    got = sorted(tuple(r) for r in similarity.ivf_search(
        assigned, cen, q, k=5, n_probe=2).collect())
    assert got == [(1, 100, 0.57735, 1), (1, 110, 0.57735, 2)]


def test_adc_ties_rank_lower_c_id_first(spark):
    # corpus 7 and 5 share code 1, so their approx_d2 ties at 0.0:
    # the ascending rank breaks the tie toward the lower c_id
    codebooks = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 0.0])],
        "sub_id: int, cid: long, cv: array<double>")
    codes = spark.createDataFrame([(7, 0, 1), (5, 0, 1), (9, 0, 0)],
                                  "id: long, sub_id: int, code: long")
    q = _emb(spark, [(1, [1.0, 0.0])])
    got = sorted(tuple(r) for r in similarity.pq_adc_search(
        codes, codebooks, q, topk=3, m=1, dim=2).collect())
    assert got == [(1, 5, 0.0, 1), (1, 7, 0.0, 2), (1, 9, 1.0, 3)]
