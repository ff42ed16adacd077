"""Round-14 optimization pins.

1. ngram_jaccard_pairs (rewritten r14: all-pairs block self-join →
   shared-shingle inverted index) must reproduce the brute-force
   all-pairs Jaccard exactly — same pair set, same rounded values.
2. The rolling-digest kernels (r14: O(k·n) slice hashing → O(n)
   numpy rolling polynomial via mapInArrow) must keep the span-family
   law: two positions share a digest iff their k-grams are equal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legate_dataframe_spark.pipeline import dedup


def _brute_jaccard_pairs(rows, block_cols, k=3, threshold=0.3):
    """Pure-python all-pairs reference (the pre-r14 semantics)."""
    def shingles(text):
        toks = text.strip().lower().split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    docs = [(tuple(r[c] for c in block_cols), r["doc_id"],
             shingles(r["text"])) for r in rows]
    out = {}
    for i in range(len(docs)):
        for j in range(len(docs)):
            (bi, ai, si), (bj, aj, sj) = docs[i], docs[j]
            if ai >= aj or bi != bj or any(b is None for b in bi):
                continue
            inter = len(si & sj)
            union = len(si) + len(sj) - inter
            if union == 0:
                continue
            jac = round(inter / union, 6)
            if jac >= threshold:
                out[(ai, aj)] = jac
    return out


def test_ngram_inverted_index_matches_allpairs_bruteforce(spark):
    rows = [
        # block A: identical pair, a near pair, a disjoint doc
        {"doc_id": 1, "src": "a", "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "src": "a", "text": "The quick brown fox jumps over the lazy dog"},
        {"doc_id": 3, "src": "a", "text": "the quick brown fox jumps over a sleepy dog"},
        {"doc_id": 4, "src": "a", "text": "completely different words entirely here now"},
        # block B: same texts as block A must NOT pair across blocks
        {"doc_id": 5, "src": "b", "text": "the quick brown fox jumps over the lazy dog"},
        # short docs: no shingles, never pair
        {"doc_id": 6, "src": "a", "text": "two words"},
        {"doc_id": 7, "src": "a", "text": "two words"},
        # null block col: drops out of pairing entirely
        {"doc_id": 8, "src": None, "text": "the quick brown fox jumps over the lazy dog"},
    ]
    df = spark.createDataFrame(
        [(r["doc_id"], r["src"], r["text"]) for r in rows],
        "doc_id: long, src: string, text: string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(
               df, ["src"], threshold=0.3).collect()}
    want = _brute_jaccard_pairs(rows, ["src"])
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert not any({5, 6, 7, 8} & {a, b} for a, b in got)


def test_ngram_inverted_index_randomized(spark):
    import random

    rng = random.Random(14)
    vocab = [f"w{i}" for i in range(12)]
    rows = [{"doc_id": i,
             "src": rng.choice(["x", "y"]),
             "text": " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 12)))}
            for i in range(40)]
    df = spark.createDataFrame(
        [(r["doc_id"], r["src"], r["text"]) for r in rows],
        "doc_id: long, src: string, text: string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(
               df, ["src"], threshold=0.2).collect()}
    want = _brute_jaccard_pairs(rows, ["src"], threshold=0.2)
    assert got == want



@pytest.mark.parametrize("threshold", [0, 0.0, -0.5])
def test_ngram_jaccard_pairs_rejects_nonpositive_threshold(spark, threshold):
    """A pair with no shared shingle never meets in the postings join,
    so threshold <= 0 would silently drop the Jaccard-0 pairs it asks
    for; the contract is threshold > 0."""
    df = spark.createDataFrame([(1, "a", "x y z w")],
                               "doc_id: long, src: string, text: string")
    with pytest.raises(ValueError, match="threshold > 0"):
        dedup.ngram_jaccard_pairs(df, ["src"], threshold=threshold)


def test_roller_refuses_int32_offset_overflow():
    """The roller's output list offsets are int32: a batch with 2^31
    windows must raise before any window is materialized.  The fake
    batch claims one 2^31 + k-token document over a one-element value
    buffer, so the check is reached without the allocation."""
    import numpy as np
    import pyarrow as pa

    k = 3

    def extract(b, np_, pa_):
        return (np.zeros(1, dtype=np.uint64),
                np.array([0, 2 ** 31 + k - 1], dtype=np.int64))

    roll = dedup._make_roller(k, "id", extract)
    batch = pa.RecordBatch.from_arrays([pa.array([1], pa.int64())], ["id"])
    with pytest.raises(ValueError, match="list-offset limit"):
        next(roll([batch]))


def test_roller_power_tables_match_plain_loop():
    """The roller's power tables grow by doubling in numpy uint64.  At
    every growth step they must equal, bit for bit, the plain
    per-element powers B^j and B^-j mod 2^64 over the covered prefix."""
    mod = 2 ** 64
    b = dedup._ROLL_B
    binv = pow(b, -1, mod)
    n_max = 10 ** 5
    want_b, want_i = [1], [1]
    for _ in range(2 * n_max + 1):  # doubling may overshoot n up to 2n
        want_b.append(want_b[-1] * b % mod)
        want_i.append(want_i[-1] * binv % mod)
    powers = dedup._make_roller(3, "id", None).powers
    for n in (0, 1, 13, 25, 1000, n_max):
        nb, ni = powers(n)
        assert len(nb) == len(ni) > n
        assert nb.tolist() == want_b[:len(nb)]
        assert ni.tolist() == want_i[:len(ni)]


def _dup_groups(kg_rows):
    """digest -> set of (id, pos) occurrence groups with |group| > 1."""
    by_dig = {}
    for r in kg_rows:
        by_dig.setdefault(r["dig"], set()).add((r[0], r["pos"]))
    return {frozenset(v) for v in by_dig.values() if len(v) > 1}


@pytest.mark.parametrize("k", [13, 25])
def test_rolling_digest_equality_classes(spark, k):
    """Large-k _doc_kgrams digests must group positions exactly by
    k-gram equality (the law every span operator builds on)."""
    toks = ["alpha", "beta", "gamma", "delta", "eps"]
    mk = (lambda seq: " ".join(toks[i % len(toks)] for i in seq))
    span = list(range(k))  # one shared k-gram between docs 1 and 2
    rows = [
        (1, mk(span + [0, 1, 2])),
        (2, mk([4, 4] + span)),
        (3, mk(list(range(k - 1)))),          # too short: no windows
        (4, ""),                               # empty
        (5, mk(span) + " " + mk(span)),        # intra-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    base, kg = dedup._doc_kgrams(df, "text", "doc_id", k)
    rows_kg = kg.collect()
    # brute-force equality classes over the same tokenization
    brute = {}
    for did, text in rows:
        ts = text.strip().lower().split() if text.strip() else []
        for i in range(len(ts) - k + 1):
            brute.setdefault(tuple(ts[i:i + k]),
                             set()).add((did, i + 1))
    want = {frozenset(v) for v in brute.values() if len(v) > 1}
    assert _dup_groups(rows_kg) == want
    # window counts: every doc with n >= k emits n-k+1 positions
    cnt = {r[0]: 0 for r in rows_kg}
    for r in rows_kg:
        cnt[r[0]] += 1
    for did, text in rows:
        ts = text.strip().lower().split() if text.strip() else []
        if len(ts) >= k:
            assert cnt.get(did, 0) == len(ts) - k + 1


def test_rolling_char_digest_multibyte(spark):
    """Char-cut digests must be CODEPOINT-windows: multi-byte (CJK)
    and astral characters count as one position each, matching
    F.length/F.substring semantics used by the rebuild."""
    k = 6
    shared = "漢字テスト🚀X"  # 7 codepoints incl. an astral one
    rows = [(1, "aa" + shared + "bb"),
            (2, "cc" + shared),
            (3, "nodupes here!")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in
           dedup.remove_dup_spans_chars(df, k=k).collect()}
    # the shared 7-codepoint run is covered in both docs
    assert out[1]["n_chars"] == len(rows[0][1])
    assert out[1]["removed_chars"] == len(shared)
    assert out[1]["text_clean_chars"] == "aabb"
    assert out[2]["removed_chars"] == len(shared)
    assert out[2]["text_clean_chars"] == "cc"
    assert out[3]["removed_chars"] == 0
