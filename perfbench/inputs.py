"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so the same seed gives the same rows, and
:func:`write_table` writes them with fixed parquet settings, so the same
rows give byte-identical files.  The engine only ever sees the files.

Shapes follow the repository's test data (same tables, column names and
types as the TPC-H-like ``sf*`` directories), with three deliberate
differences that the workloads rely on:

- foreign keys (``o_custkey``, ``l_partkey``, ``l_suppkey``) follow a
  bounded Zipf law with exponent :data:`FK_SKEW`, so joins and
  aggregates see hot keys;
- ``l_shipdate`` follows its order's ``o_orderdate`` (1-121 days later),
  so date predicates across the join select real rows;
- the ``documents`` corpus plants exact duplicates, near duplicates,
  shared spans and one boilerplate sentence in stated shares
  (:data:`CORPUS_SHARES`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Zipf exponent of every TPC-H foreign key (rank k drawn with p ~ 1/k^s).
FK_SKEW = 0.8

# Rows per unit of scale factor, as in TPC-H.
_TPCH_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
              "orders": 1_500_000, "lineitem": 6_000_000}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the test data
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_DAYS = 30

# Share of corpus documents that carry each planted property.  A
# document gets at most one of exact/near/span; boilerplate is drawn
# independently, so it also lands on copies.
CORPUS_SHARES = {"exact_dup": 0.05, "near_dup": 0.10, "shared_span": 0.10,
                 "boilerplate": 0.25}
# The planted boilerplate: one sentence that appears verbatim in
# CORPUS_SHARES["boilerplate"] of the documents.  Its 3-grams are the
# hot posting keys of the n-gram similarity join.
BOILERPLATE = ("all rights reserved read the terms of use and the privacy "
               "policy before you share this page")
_LANG_SHARES = {"en": 0.55, "es": 0.15, "de": 0.15, "fr": 0.15}
_STOPWORDS = {  # the engine's language-id stopwords, so lang_id sees them
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "une", "est"],
}
_STOPWORD_SHARE = 0.25
_N_SOURCES = 4
_VOCAB_SIZE = 2000
_SPAN_TOKENS = 20
_NEAR_EDIT_SHARE = 0.08


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a table to a
    workload does not shift the rows of the others."""
    salt = int.from_bytes(stream.encode(), "little") % (2 ** 63)
    return np.random.default_rng([seed, salt])


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` with fixed settings; returns the file size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int,
               skew: float) -> np.ndarray:
    """``size`` draws from ``0..n_keys-1`` where the key of rank k has
    probability proportional to 1/k^skew; ranks map to keys through a
    seeded permutation, so the hot keys are not simply the low ones."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** skew
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float,
           size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at ``scale`` (1.0 = 6M lineitem rows)."""
    n = {t: max(int(r * scale), 10) for t, r in _TPCH_ROWS.items()}
    rng = rng_for(seed, "tpch")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), npart)
    noun = rng.integers(0, len(_PART_NOUN), npart)
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(retail)})
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, _ORDER_DAYS, no) * _US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(_zipf_keys(rng, nc, no, FK_SKEW)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl).astype(np.int64)
    lpart = _zipf_keys(rng, npart, nl, FK_SKEW)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[lorder] + rng.integers(1, 122, nl) * _US_PER_DAY
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(_zipf_keys(rng, ns, nl, FK_SKEW)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[lpart], 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    return out


def _vocab() -> list[str]:
    """Fixed content vocabulary of pronounceable made-up words (the same
    for every seed; the seed only changes which words a document uses)."""
    rng = np.random.default_rng(7)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < _VOCAB_SIZE:
        k = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                          for _ in range(k)))
    return sorted(words)


@dataclass
class Corpus:
    """A generated corpus: parallel lists, one entry per document."""
    doc_id: list[int] = field(default_factory=list)
    text: list[str] = field(default_factory=list)
    lang: list[str] = field(default_factory=list)
    source: list[str] = field(default_factory=list)
    planted: dict[str, int] = field(default_factory=dict)

    def table(self, rows: slice | None = None) -> pa.Table:
        rows = rows or slice(None)
        text = self.text[rows]
        return pa.table({
            "doc_id": pa.array(self.doc_id[rows], pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(self.lang[rows]),
            "source": pa.array(self.source[rows]),
            "n_chars": pa.array([len(t) for t in text], pa.int64())})


class CorpusGenerator:
    """Draws documents one at a time; copies and spans come from the
    documents drawn so far, so batches drawn later near-duplicate the
    live corpus the way a fresh crawl repeats an old one."""

    def __init__(self, seed: int, stream: str = "corpus"):
        self.rng = rng_for(seed, stream)
        self.vocab = np.array(_vocab())
        p = 1.0 / np.arange(1, _VOCAB_SIZE + 1) ** 1.0
        self.vocab_p = p / p.sum()
        self.langs = list(_LANG_SHARES)
        self.lang_p = np.array(list(_LANG_SHARES.values()))
        self.tokens: list[list[str]] = []
        self.fresh: list[int] = []  # rows drawn fresh: the only copy sources
        self.corpus = Corpus(planted={k: 0 for k in CORPUS_SHARES})

    def _fresh(self, lang: str) -> list[str]:
        n = int(self.rng.integers(30, 121))
        words = self.vocab[self.rng.choice(_VOCAB_SIZE, n, p=self.vocab_p)]
        stop = np.array(_STOPWORDS[lang])[self.rng.integers(0, 10, n)]
        pick = self.rng.random(n) < _STOPWORD_SHARE
        return list(np.where(pick, stop, words))

    def draw(self, doc_id: int) -> None:
        rng, c = self.rng, self.corpus
        kind = rng.choice(4, p=[CORPUS_SHARES["exact_dup"],
                                CORPUS_SHARES["near_dup"],
                                CORPUS_SHARES["shared_span"],
                                1.0 - CORPUS_SHARES["exact_dup"]
                                - CORPUS_SHARES["near_dup"]
                                - CORPUS_SHARES["shared_span"]])
        have = len(self.fresh)
        if kind in (0, 1) and have:
            src = self.fresh[int(rng.integers(have))]
            toks = list(self.tokens[src])
            lang = c.lang[src]
            if kind == 1:
                edits = max(1, int(len(toks) * _NEAR_EDIT_SHARE))
                for i in rng.choice(len(toks), edits, replace=False):
                    toks[i] = str(self.vocab[rng.integers(_VOCAB_SIZE)])
            c.planted["near_dup" if kind == 1 else "exact_dup"] += 1
        else:
            lang = self.langs[rng.choice(len(self.langs), p=self.lang_p)]
            toks = self._fresh(lang)
            if kind == 2 and have:
                donor = self.tokens[self.fresh[int(rng.integers(have))]]
                start = int(rng.integers(0, max(1, len(donor) - _SPAN_TOKENS)))
                at = int(rng.integers(0, len(toks)))
                toks[at:at] = donor[start:start + _SPAN_TOKENS]
                c.planted["shared_span"] += 1
            self.fresh.append(len(self.tokens))
        if rng.random() < CORPUS_SHARES["boilerplate"]:
            toks = toks + BOILERPLATE.split()
            c.planted["boilerplate"] += 1
        self.tokens.append(toks)
        text = " ".join(toks)
        if kind == 0 and have:  # exact copies differ only in case/spacing
            text = text.upper() if rng.random() < 0.5 else text.replace(" ", "  ")
        c.doc_id.append(doc_id)
        c.text.append(text)
        c.lang.append(lang)
        c.source.append(f"src{int(rng.integers(_N_SOURCES))}")

    def draw_many(self, first_id: int, n: int) -> slice:
        start = len(self.corpus.doc_id)
        for i in range(n):
            self.draw(first_id + i)
        return slice(start, start + n)


def events_table(seed: int, n: int, first_id: int = 0) -> pa.Table:
    """Event rows over 30 days of January 2024, as in the test data."""
    rng = rng_for(seed, f"events:{first_id}")
    ts = _EPOCH_2024 + rng.integers(0, _EVENT_DAYS * _US_PER_DAY, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
