"""Edge contracts shared by every span cut: null texts, and outputs
that do not depend on how the rolling-digest kernels' Arrow batches
or the input partitions are cut."""

from __future__ import annotations

import pytest

from legate_dataframe_spark.pipeline import dedup

K = 3
_SCHEMA = "doc_id long, text string"


# form → (cut(docs, bench) at k=K, cleaned-text column)
FORMS = {
    "remove_dup_spans": (
        lambda d, b: dedup.remove_dup_spans(d, k=K), "text_clean"),
    "remove_repeated_spans": (
        lambda d, b: dedup.remove_repeated_spans(d, k=K), "text_clean"),
    "remove_contaminated_spans": (
        lambda d, b: dedup.remove_contaminated_spans(d, b, k=K),
        "text_clean"),
    "clean_corpus": (
        lambda d, b: dedup.clean_corpus(d, b, k=K), "text_clean"),
    "remove_dup_spans_raw": (
        lambda d, b: dedup.remove_dup_spans_raw(d, k=K), "text_clean_raw"),
    "clean_corpus_raw": (
        lambda d, b: dedup.clean_corpus_raw(d, b, k=K), "text_clean_raw"),
    "remove_dup_spans_chars": (
        lambda d, b: dedup.remove_dup_spans_chars(d, k=K),
        "text_clean_chars"),
}


@pytest.mark.parametrize("form", FORMS)
def test_null_text_gives_null_clean_text(spark, form):
    """A null text has no tokens to cut or keep: its cleaned text is
    null (never an empty document), its size and kept counts are null,
    and it removes nothing — in every front."""
    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "x a b c d y"), (4, "")], _SCHEMA)
    bench = spark.createDataFrame([(9, "b c d")], _SCHEMA)
    cut, text = FORMS[form]
    rows = {r["doc_id"]: r.asDict() for r in cut(docs, bench).collect()}
    null_row = rows[1]
    assert null_row[text] is None
    counts = [v for c, v in null_row.items() if c not in ("doc_id", text)]
    # (n, removed, kept, dup_ratio[, cov_benchmark, cov_crossdoc,
    # cov_intradoc]) — what the normalized forms have always given
    assert counts[:4] == [None, 0, None, None]
    assert all(v == 0 for v in counts[4:])
    # the documents around it are still cut
    assert rows[3][text] not in (None, "")
    assert rows[4][text] == ""


_EDGE_DOCS = [
    (1, ""),
    (2, "   "),
    (3, "\t\n"),
    (4, "a b"),                                  # shorter than k tokens
    (5, "ab"),                                   # shorter than k chars
    (6, "The quick brown fox jumps over it"),
    (7, "the QUICK brown fox\tjumps  again"),
    (8, "東京 タワー 🚀 東京 タワー 🚀 です"),      # multi-byte, astral
    (9, "x 東京 タワー 🚀 y"),
    (10, "quick brown fox quick brown fox"),
    (11, None),
]

# one cut per rolling front: word, raw, char
BOUNDARY_FORMS = ["remove_dup_spans", "remove_dup_spans_raw",
                  "remove_dup_spans_chars"]


@pytest.mark.parametrize("form", BOUNDARY_FORMS)
def test_cut_is_independent_of_arrow_batches_and_partitions(spark, form):
    """The word, raw and char fronts roll their digests through
    mapInArrow.  One-row Arrow batches (every document its own batch,
    empty and too-short ones included), also over a 7-way repartition
    of the input, must give the rows of the default batching."""
    docs = spark.createDataFrame(_EDGE_DOCS, _SCHEMA)

    def run(frame):
        return sorted(tuple(r) for r in FORMS[form][0](frame, None).collect())

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "1")
        one_row = run(docs)
        one_row_parts = run(docs.repartition(7))
    finally:
        spark.conf.set(conf, old)
    default = run(docs)
    assert len(default) == len(_EDGE_DOCS)
    assert one_row == default
    assert one_row_parts == default
    # the edge corpus really exercises the cut
    assert any(r[2] > 0 for r in default)
