"""Deduplication operators: exact, near-duplicate and span-level.

Exact dedup is one hash-groupBy on the md5 of normalized text — one
shuffle keyed by digest (uniform, no skew), keeping the min doc_id.

The near-duplicate family splits into the two stages of a distributed
similarity join, candidate generation then exact verification, and
each stage has one implementation that every operator calls:

  bucket front  (_shingle_sets + _minhash_buckets) — k-word shingles →
                md5-derived MinHash signature → (id, band, bh) rows.
                minhash_lsh_pairs, levenshtein_pairs and the persisted
                index (build/insert/incremental) share it; each caller
                keeps its own widen/persist placement.  SimHash
                (bit-vote over shingle md5s, bands auto-widened to
                max_hamming + 1 so pigeonhole makes the radius exact)
                and cosine LSH (similarity.py, hyperplane sign bits)
                build their own (id, band, bv) rows.
  candidates    (_band_pairs) — the banded self-join on (band, bucket
                value, l.id < r.id), an optional per-pair score
                (hamming, cosine), one row per pair, and the
                max_bucket_size guard against boilerplate clusters.
                No all-pairs comparison ever happens.
  verify        (_jaccard_verify) — exact Jaccard of distinct shingle
                sets, rounded to 6 places; edit distance
                (levenshtein_pairs), Hamming and cosine verify their
                own score.  ngram_jaccard_pairs is an exact all-pairs
                Jaccard within blocks: a shared-shingle inverted index
                over xxhash64 digests counts intersections from its
                postings, so it neither bands nor calls the verify.
  overlap       (_overlap_digests, _shared_counts) — cross-corpus
                decontamination: md5 shingle digests of both corpora
                with a stop-shingle guard, then one digest join +
                group count; bloom_cross_corpus_overlap first prunes
                the train side with a broadcast bitmap in the one
                Bloom format of core/manifest.py.

Every signature hash is a built-in SQL expression (md5, xxhash64), so
the DuckDB oracles reproduce the same buckets.  The span family
(substring_dup_spans onward) runs one front/cover/rebuild engine whose
front is a numpy ``mapInArrow`` rolling digest; its stage map is the
comment above ``_ROLL_B``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from legate_dataframe_spark.core import manifest as mf
from legate_dataframe_spark.core.caching import tracked_persist
from legate_dataframe_spark.core.partitioning import widen_partitions


def normalize_text(text: Column) -> Column:
    """lowercase + collapse whitespace — canonical form for exact dedup."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: keeper id + multiplicity."""
    return (
        docs.select(F.md5(normalize_text(F.col(text_col))).alias("digest"),
                    F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of k-word shingles (strings) of the lowercased text.

    Built as zip_with over k shifted slices rather than
    transform(sequence, i -> element_at(toks, i+j)): Catalyst inlines
    the split() expression into every element_at inside a lambda (no
    CSE there), which made the indexed construction re-split the text
    O(k·n) times per document — 50× slower at 5k docs.  Slices
    evaluate the split once each.
    """
    return word_shingles_of(F.split(F.trim(F.lower(text)), r"\s+"), k)


def word_shingles_of(toks: Column, k: int = 3) -> Column:
    """k-word shingles of an already-tokenized array column."""
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))  # shingle count
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(out, F.slice(toks, j + 1, m),
                         lambda x, y: F.concat_ws(" ", x, y))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """array<struct<h1,h2>> — one md5 per shingle, split into two 32-bit
    ints (h1 = hex[0:8], h2 = hex[8:16]).

    Materialize this ONCE as a real column before deriving the minhash
    family from it: Catalyst does not CSE subexpressions across
    lambda-bearing projections, so building each mh_j directly from the
    text would re-run md5 over every shingle per hash function
    (num_hashes× the cost — measured 2.5× wall-clock on the LSH query).
    """
    return F.transform(
        F.transform(shingles, F.md5),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )


def minhash_signature(hashed: str, num_hashes: int = 16) -> list[Column]:
    """MinHash signatures from the `shingle_hashes` column named
    ``hashed``.

    Kirsch-Mitzenmacher: hash function j is (h1 + j*h2) mod 2^32 — all
    exact int64 arithmetic, reproducible in any engine, 16× cheaper
    than seeded-md5-per-function.  Each hash is one SQL expression:
    a Python-lambda ``F.transform`` costs ~10 ms of driver-side py4j
    tracing per hash, the parsed form ~1–2 ms.
    """
    return [
        F.expr(f"array_min(transform(`{hashed}`, "
               f"x -> (x.h1 + {j} * x.h2) % 4294967296))").alias(f"mh{j}")
        for j in range(num_hashes)
    ]


def minhash_shingles_and_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The shared front half of banded MinHash: (shingle sets, LSH
    bucket rows).  Returns ``(sh, buckets)`` where ``sh`` is
    (id, sh: array<string>) persisted — it feeds the signature path
    AND both sides of any later exact-verify join (no automatic
    cross-branch CSE in Catalyst; the reference models this as an
    explicit Cache node, dsl/ir.py:632) — and ``buckets`` is the
    narrow (id, band, bh) frame whose equi-self-join (or join against
    a persisted band index) yields candidate pairs.
    MEMORY_AND_DISK persist spills instead of OOMing at corpus scale.
    """
    sh = tracked_persist(
        _shingle_sets(widen_partitions(docs), text_col, id_col, shingle_k))
    return sh, _minhash_buckets(sh, num_hashes, bands)


def _shingle_sets(docs: DataFrame, text_col: str, id_col: str,
                  shingle_k: int) -> DataFrame:
    """(id, sh) — each document's k-word shingle array; documents
    with no shingle (fewer than k tokens) are dropped."""
    return docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).filter(F.size("sh") > 0)


def _minhash_buckets(sh: DataFrame, num_hashes: int,
                     bands: int) -> DataFrame:
    """(id, sh) → (id, band, bh) LSH bucket rows: the MinHash signature
    cut into ``bands`` bands of num_hashes // bands rows, each band
    hashed to one bucket value."""
    rows = num_hashes // bands
    # stage the per-shingle hashes as a real column, then the signature
    # (md5 runs once per shingle, not once per hash function)
    sig = (sh.select("id", shingle_hashes(F.col("sh")).alias("hh"))
           .select("id", *minhash_signature("hh", num_hashes)))
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}").cast("string")
                                          for r in range(rows)]))
                 .alias("bh"))
        for b in range(bands)
    ]
    # bucket rows carry ONLY (id, band, bh): the bucket self-join and the
    # pair-dedup shuffle narrow 3-column rows, never the shingle arrays.
    return (sig.select("id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("id", F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh")))


def _band_pairs(buckets: DataFrame, key: str, score: Column | None = None,
                max_bucket_size: int | None = None) -> DataFrame:
    """The banded candidate self-join: rows (id, band, ``key``, …)
    pair up when they share a (band, ``key``) bucket, once per
    unordered pair → (id_a, id_b[, score]) with id_a < id_b.
    ``score`` is computed per joined pair from the ``l.``/``r.``
    sides (before the pair dedup, so every bucket copy of a pair
    carries the same value).

    ``max_bucket_size`` drops buckets holding more members before the
    join — the boilerplate-cluster guard: a k-doc template bucket
    emits O(k²) pairs on one join key (a skew bomb).  The window count
    is one extra shuffle on the keys the join uses anyway; AQE reuses
    the partitioning."""
    if max_bucket_size is not None:
        n_in_bucket = F.count("*").over(Window.partitionBy("band", key))
        buckets = (buckets.withColumn("__n", n_in_bucket)
                   .filter(F.col("__n") <= max_bucket_size).drop("__n"))
    cols = [F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")]
    if score is not None:
        cols.append(score)
    l, r = buckets.alias("l"), buckets.alias("r")
    return (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col(f"l.{key}") == F.col(f"r.{key}"))
               & (F.col("l.id") < F.col("r.id")))
        .select(*cols)
        .dropDuplicates(["id_a", "id_b"])
    )


def _jaccard_verify(cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame,
                    threshold: float, a: str = "id_a",
                    b: str = "id_b") -> DataFrame:
    """Exact set-Jaccard verify of candidate pairs (a, b): ``sets_a``
    and ``sets_b`` are (id, sh) frames of DISTINCT shingle sets; only
    the candidate ids fetch theirs (two id-keyed joins — at scale the
    candidate side is tiny next to the corpus, and AQE broadcasts it).
    → (a, b, jaccard) with the Jaccard rounded to 6 places and
    ≥ ``threshold``."""
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    # ANSI mode (Spark 4 default) makes 0/0 an ERROR, not null — guard
    # the degenerate both-empty pair.
    jac = F.when(union > 0, F.round(inter / union, 6))
    return (
        cand.join(sets_a.select(F.col("id").alias(a), F.col("sh").alias("sa")), a)
        .join(sets_b.select(F.col("id").alias(b), F.col("sh").alias("sb")), b)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash, exact-verified.

    rows-per-band = num_hashes // bands.  Returns (id_a, id_b, jaccard)
    with id_a < id_b and jaccard ≥ threshold.

    ``max_bucket_size`` skips LSH buckets holding more members — the
    standard web-scale guard: a boilerplate/template cluster of k docs
    emits O(k²) candidate pairs, and one million-member bucket is both
    a skew bomb (every pair lands on one join key) and rarely useful
    (such clusters are better handled by exact dedup on the template).
    None (default, used by the oracle-matched registry query) keeps
    exhaustive semantics.
    """
    sh, buckets = minhash_shingles_and_buckets(
        docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k)
    sets = sh.select("id", F.array_distinct("sh").alias("sh"))
    return _jaccard_verify(
        _band_pairs(buckets, "bh", max_bucket_size=max_bucket_size),
        sets, sets, jaccard_threshold)


def build_minhash_index(
    spark,
    corpus: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    num_buckets: int = 16,
) -> None:
    """Persist the corpus's LSH state as two BUCKETED tables so later
    batches dedup against it without rescanning (or re-shuffling) the
    corpus:

    - ``{prefix}_bands``    (id, band, bh) bucketed on (band, bh) —
      the candidate-join key, so an incoming batch's band rows join
      straight into co-located buckets;
    - ``{prefix}_shingles`` (id, sh) bucketed on id — the
      exact-verify join key, so the (few) candidate corpus ids fetch
      their shingle sets without moving the store.

    This is the production shape of incremental dedup at 100 TB: the
    O(corpus) tokenize+hash+shuffle cost is paid once at index build;
    each daily batch costs O(batch + collisions).  Composes
    core/bucketing.py (the persistent form of the reference's
    repartition_by_hash, cpp/src/core/repartition_by_hash.cpp:61-143)
    with the minhash machinery above.

    Both table names are stable VIEWS over versioned bucketed physical
    tables (``{name}__g{n}`` — core/bucketing.py::init_versioned), so
    every later maintenance write-back is a catalog-atomic repoint
    with no reader-visible drop+rename gap (VERDICT r08 task 2: the
    mechanism existed but only rollup state used it; a serving index
    is exactly the table a concurrent reader hits mid-maintenance).
    Catalyst inlines the trivial views, so candidate/verify joins
    still read co-located buckets Exchange-free.
    """
    from legate_dataframe_spark.core.bucketing import init_versioned

    sh, buckets = minhash_shingles_and_buckets(
        corpus, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k)
    init_versioned(spark, buckets, f"{table_prefix}_bands",
                   ["band", "bh"], num_buckets=num_buckets)
    init_versioned(spark,
                   sh.select("id", F.array_distinct("sh").alias("sh")),
                   f"{table_prefix}_shingles", ["id"],
                   num_buckets=num_buckets)


def insert_into_minhash_index(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    num_buckets: int = 16,
) -> None:
    """Append a NEW document batch into a persisted minhash index
    built by :func:`build_minhash_index` — the lifecycle INSERT the
    IVF index already has (similarity.insert_into_ivf_index): once a
    batch has been dedup-checked and admitted, its band rows and
    shingle sets join the index so the NEXT batch is checked against
    corpus ∪ batch without the corpus ever being re-tokenized.

    The batch is minhashed once (O(batch)) and appended into both
    index tables' LIVE physical generations under their existing hash
    specs (core/bucketing.py::append_versioned — Spark validates the
    bucket spec on append and fails loudly on a mismatch), so each
    bucket id simply gains files and every later candidate join stays
    co-located.  Shingles append first; a failure between the two
    appends leaves shingle sets with no band rows — those docs are
    simply not yet discoverable as candidates, the benign direction
    for a dedup gate.  Appends are NOT idempotent: retrying a
    partially-applied insert needs delete_from_minhash_index(batch
    ids) first, or the per-batch_id marker discipline the streaming
    chains use (plans/round7.py::stream_dedup_chain)."""
    from legate_dataframe_spark.core.bucketing import append_versioned

    sh, buckets = minhash_shingles_and_buckets(
        batch, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k)
    append_versioned(spark,
                     sh.select("id", F.array_distinct("sh").alias("sh")),
                     f"{table_prefix}_shingles", ["id"],
                     num_buckets=num_buckets)
    append_versioned(spark, buckets, f"{table_prefix}_bands",
                     ["band", "bh"], num_buckets=num_buckets)


def delete_from_minhash_index(
    spark,
    doc_ids: DataFrame,
    table_prefix: str,
    num_buckets: int = 16,
    keep_old: bool = False,
) -> None:
    """Remove documents from a persisted minhash index — the DELETE
    quarter of the lifecycle (build / insert / compact / serve had no
    remove; VERDICT r07 task 2).  Takedown/GDPR deletion is a
    first-order production operation for a training-data platform:
    without this, removing one document means rebuilding the whole
    index.

    ``doc_ids`` is a 1-column frame of ids to remove.  Both index
    tables are anti-joined on id and written back as new generations
    behind their stable views (``swap_versioned`` — catalog-atomic
    repoint, no reader-visible gap) under their ORIGINAL bucket
    specs, so the rewrite is one co-located pass per table (the band
    table's anti-join broadcasts the id list — nothing corpus-sized
    shuffles) and every later candidate/verify join stays
    Exchange-free.  Cost is O(index), like compaction; a deployment
    doing frequent deletes batches them and pays one rewrite, exactly
    as it batches compactions.

    Cross-table atomicity: each table's swap is atomic, but the two
    swaps together are not — a failure between them leaves SHINGLES
    deleted and bands retained, which is why shingles go first: the
    leftover band rows inner-join to nothing on the verify path, so
    the deleted docs are already unservable; re-running the delete
    heals the bands (anti-join deletes are idempotent).  The reverse
    order would leave the deleted docs' shingle sets live.

    ``keep_old=True`` retains each table's pre-delete generation for
    time travel (:func:`core.bucketing.read_generation`) — note the
    compliance interaction: a retained pre-delete snapshot still
    CONTAINS the taken-down documents, so takedown-compliant vacuum
    must retire every generation older than the delete
    (:func:`core.bucketing.vacuum_generations` with keep_last=1)."""
    from pyspark.sql import functions as F2

    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        swap_versioned,
    )

    ids = doc_ids.toDF("id")
    bands = read_bucketed(spark, f"{table_prefix}_bands")
    sh = read_bucketed(spark, f"{table_prefix}_shingles")
    swap_versioned(
        spark, sh.join(F2.broadcast(ids), "id", "left_anti"),
        f"{table_prefix}_shingles", ["id"], num_buckets=num_buckets,
        keep_old=keep_old)
    swap_versioned(
        spark, bands.join(F2.broadcast(ids), "id", "left_anti"),
        f"{table_prefix}_bands", ["band", "bh"], num_buckets=num_buckets,
        keep_old=keep_old)


def minhash_pairs_from_index(
    spark,
    table_prefix: str,
    jaccard_threshold: float = 0.5,
    restrict_ids: DataFrame | None = None,
    generation: int | None = None,
) -> DataFrame:
    """Corpus-internal near-dup pairs served OFF the persisted index —
    no re-tokenize, no re-minhash, and (the bucketing payoff) the
    candidate self-join runs on the band table's own bucket key
    (band, bh): both sides of the join read the SAME co-located,
    pre-sorted buckets, so the plan has zero Exchange for the
    candidate generation.  Value-identical to
    :func:`minhash_lsh_pairs` over the corpus the index was built
    from (the index stores exactly its band rows and distinct
    shingle sets).

    ``restrict_ids`` (1-column id frame, optional) limits BOTH pair
    endpoints to the given ids via a broadcast semi-join on the band
    table BEFORE the self-join — the bounded-recompute primitive
    components.delete_from_components_index uses: the candidate work
    is O(restricted band rows), never O(index).

    ``generation`` (optional) serves off a RETAINED historical
    snapshot instead of the live view — time travel for audit
    questions like "what did the index pair before yesterday's
    takedown?" (both tables read the same generation number; raises
    if it was vacuumed).  Snapshot physicals are bucketed, so the
    historical serve is as co-located as the live one."""
    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        read_generation,
    )

    if generation is None:
        buckets = read_bucketed(spark, f"{table_prefix}_bands")
        sh = read_bucketed(spark, f"{table_prefix}_shingles")
    else:
        buckets = read_generation(spark, f"{table_prefix}_bands",
                                  generation)
        sh = read_generation(spark, f"{table_prefix}_shingles",
                             generation)
    if restrict_ids is not None:
        ids = restrict_ids.toDF("id")
        buckets = buckets.join(F.broadcast(ids), "id", "left_semi")
    return _jaccard_verify(_band_pairs(buckets, "bh"), sh, sh,
                           jaccard_threshold)


def incremental_minhash_dedup(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch against a persisted corpus index built
    by :func:`build_minhash_index` — the corpus parquet is never
    rescanned and never re-shuffled (its band table is already
    partitioned on the join key; only the batch side shuffles).

    Returns (corpus_id, batch_id, jaccard) for exact-verified
    near-dup pairs at ``jaccard_threshold`` — equivalent, for
    cross pairs, to running the batch-over-union LSH (the oracle
    states exactly that equivalence).
    """
    from legate_dataframe_spark.core.bucketing import read_bucketed

    idx_bands = (read_bucketed(spark, f"{table_prefix}_bands")
                 .withColumnRenamed("id", "corpus_id"))
    sh_b, buckets_b = minhash_shingles_and_buckets(
        batch, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k)
    cand = (idx_bands
            .join(buckets_b.withColumnRenamed("id", "batch_id"),
                  ["band", "bh"])
            .select("corpus_id", "batch_id")
            .dropDuplicates(["corpus_id", "batch_id"]))
    return _jaccard_verify(
        cand, read_bucketed(spark, f"{table_prefix}_shingles"),
        sh_b.select("id", F.array_distinct("sh").alias("sh")),
        jaccard_threshold, a="corpus_id", b="batch_id")


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact Jaccard pairs within blocking-key groups via a shared-
    shingle inverted index (r14; was an all-pairs block self-join over
    full shingle arrays).  Any pair reaching a positive threshold
    shares at least one shingle, so candidates come from an equi-join
    of the (block, shingle-digest) postings table with itself:
    |intersection| is the per-pair join-row count (postings are
    distinct per doc by construction), |union| = |A|+|B|−|inter| from
    the per-doc distinct-shingle counts.  Identical output — the same
    rounded Jaccard over the same pair set — but the |block|² pair
    matrix never forms and ``array_intersect`` never runs: the work is
    proportional to shared-shingle co-occurrences, not to block size
    squared, and the join key is an 8-byte xxhash64 digest (the span
    family's internal equality proxy) rather than the shingle string.

    ``threshold`` must be positive: a pair with no shared shingle
    (Jaccard 0) never meets in the postings join, so a threshold ≤ 0
    could not return the pairs it asks for."""
    if not threshold > 0:
        raise ValueError(
            f"ngram_jaccard_pairs needs threshold > 0, got {threshold}")
    # both self-join sides read the postings — persist so the shingle
    # front (split + zip_with + distinct + explode) runs once.
    posts = tracked_persist(widen_partitions(docs).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.transform(
            word_shingles(F.col(text_col), shingle_k),
            lambda x: F.xxhash64(x)))).alias("s"),
    ))
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("nsh"))
    l = posts.alias("l")
    r = posts.alias("r")
    cond = (F.col("l.id") < F.col("r.id")) & (F.col("l.s") == F.col("r.s"))
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    inter_pairs = (l.join(r, cond)
                   .groupBy(F.col("l.id").alias("id_a"),
                            F.col("r.id").alias("id_b"))
                   .agg(F.count(F.lit(1)).cast("double").alias("inter")))
    na = sizes.select(F.col("id").alias("id_a"), F.col("nsh").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("nsh").alias("nb"))
    union = (F.col("na") + F.col("nb")).cast("double") - F.col("inter")
    jac = F.when(union > 0, F.round(F.col("inter") / union, 6))  # ANSI-safe
    return (inter_pairs.join(na, "id_a").join(nb, "id_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: signatures within ``max_hamming`` bits.

    Signatures vote over k-word shingles (unigram votes are too coarse:
    templated corpora share most of their vocabulary, so token-level
    simhash collapses; shingle-level tracks Jaccard well).  Docs with
    fewer than ``shingle_k`` tokens have no shingles and are excluded
    (they would all share signature 0).

    Banding makes the pairing exact without an all-pairs scan: split the
    signature into ``bands`` chunks; ``h`` differing bits corrupt at
    most ``h`` chunks, so two signatures within Hamming ``h`` agree on
    at least one full chunk whenever ``bands ≥ h+1`` (pigeonhole) and an
    equi-join on (band_idx, chunk_value) recalls every qualifying pair.
    When ``max_hamming > bands-1`` the band count auto-widens to
    ``max_hamming+1`` — the multi-index generalization (same machinery
    as Manku et al.'s rotated simhash tables, expressed as more/narrower
    equi-join buckets; shorter chunks trade precision — bigger candidate
    buckets — for the wider exact-recall radius).  One narrow map + one
    equi-join shuffle keyed by small-int buckets — no cross join at any
    scale.
    """
    docs = widen_partitions(docs)
    feats = F.array_distinct(word_shingles(F.col(text_col), shingle_k))
    # the signature (bit-voting over every shingle × `bits` positions) is
    # the expensive map; both self-join sides consume it — persist so it
    # runs once per doc, not twice.
    sig = tracked_persist(
        docs.select(F.col(id_col).alias("id"), feats.alias("ft"))
        .filter(F.size("ft") > 0)
        .select("id", _simhash_of(F.col("ft"), bits).alias("simhash")))
    return simhash_pairs_from_signatures(
        sig, bits=bits, bands=bands, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size)


def simhash_pairs_from_signatures(
    sig: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded pairing stage over an (id, simhash) frame — exact for any
    ``max_hamming`` (bands auto-widen to ``max_hamming+1``); split out
    so the recall guarantee is testable on handcrafted signatures."""
    if max_hamming > bands - 1:
        # pigeonhole needs one band more than the error budget
        bands = max_hamming + 1
    if bands > bits:
        raise ValueError(f"bands={bands} exceeds signature bits={bits}")
    # uneven widths cover every bit: h differing bits corrupt ≤ h bands
    # regardless of where they land, so exactness is width-independent
    widths = [bits // bands + (1 if i < bits % bands else 0)
              for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    banded = sig.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("simhash", offsets[b])
                     .bitwiseAND(F.lit((1 << widths[b]) - 1)).alias("bv"))
            for b in range(bands)
        ])).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.bv").alias("bv"))
    hamming = (F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
               .cast("long").alias("hamming"))
    return (_band_pairs(banded, "bv", hamming, max_bucket_size)
            .filter(F.col("hamming") <= max_hamming))


def _simhash_of(features: Column, bits: int) -> Column:
    """SimHash signature expression over an array of feature strings.

    One md5 per feature, top ``bits`` bits (≤ 60 so the int fits a
    signed long via 15 hex chars); bit b of the signature is set iff
    strictly more features have bit b set than unset (ties → 0) —
    the engine-portable majority vote.
    """
    hex_chars = (bits + 3) // 4
    th = F.transform(features, lambda t: F.conv(
        F.substring(F.md5(t), 1, hex_chars), 16, 10).cast("long"))
    # single-pass bitwise vote: fold the feature hashes into a
    # `bits`-wide counter array (one aggregate, not one per bit —
    # per-bit aggregates re-evaluate the md5 transform `bits` times).
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        th, zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1))
                        .otherwise(F.lit(-1)).cast("long")),
            lambda x, y: x + y))
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, x: a + x)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 48, shingle_k: int = 3) -> DataFrame:
    """SimHash signature per document, voted over k-word shingles
    (``shingle_k=1`` degrades to distinct unigram tokens).  Docs with
    no shingles (< k tokens) get signature 0.
    """
    docs = widen_partitions(docs)
    if shingle_k <= 1:
        feats = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    else:
        feats = F.array_distinct(word_shingles(F.col(text_col), shingle_k))
    return docs.select(F.col(id_col), _simhash_of(feats, bits).alias("simhash"))


def levenshtein_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_rel_dist: float = 0.2,
    max_abs_dist: int = 200,
) -> DataFrame:
    """Near-dup pairs by bounded edit distance, LSH-blocked.

    Candidates come from the same banded MinHash machinery as
    ``minhash_lsh_pairs`` (never all-pairs); verification is
    ``levenshtein(norm_a, norm_b)`` on the normalized text, kept when
    the distance is within ``max_rel_dist × max(len_a, len_b)`` and
    ``max_abs_dist``.  Spark's thresholded levenshtein (the 3-arg form)
    abandons a pair once the running distance exceeds ``max_abs_dist``
    — O(n·k) per pair instead of O(n·m), the difference between
    feasible and not on book-length documents.

    Complements Jaccard verification: shingle sets ignore ordering and
    small in-place edits; edit distance catches character-level
    near-dups (OCR noise, typo farms) that shingle Jaccard underrates.
    """
    norm = tracked_persist(docs.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("txt"),
    ))
    # candidates shingle the RAW text — identical to dedup_minhash and
    # to the oracle's shared _lsh_cand_ctes (normalized text would drop
    # the empty edge tokens raw tokenization keeps on edge-whitespace
    # docs, silently diverging the candidate sets); normalization is
    # only for the edit-distance comparison below
    cand = _band_pairs(_minhash_buckets(
        _shingle_sets(docs, text_col, id_col, shingle_k), num_hashes, bands),
        "bh")
    ta = norm.select(F.col("id").alias("id_a"), F.col("txt").alias("ta"))
    tb = norm.select(F.col("id").alias("id_b"), F.col("txt").alias("tb"))
    limit = F.floor(F.lit(max_rel_dist)
                    * F.greatest(F.length("ta"), F.length("tb")))
    # two semantics-preserving guards before the O(n·k) distance:
    # - dist ≥ |len_a − len_b|, so a length gap past the limit can
    #   never qualify — filter BEFORE computing levenshtein;
    # - exact replicas (the dominant candidate class on template/
    #   mirror corpora) short-circuit to 0 via an O(n) equality test.
    len_gap = F.abs(F.length("ta") - F.length("tb"))
    dist = F.when(F.col("ta") == F.col("tb"), F.lit(0)) \
        .otherwise(F.levenshtein(F.col("ta"), F.col("tb"), max_abs_dist))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .filter(len_gap <= F.least(F.lit(max_abs_dist), limit))
        .withColumn("edit_dist", dist)
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= limit))
        .select("id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))
    )


def cross_corpus_overlap(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_shared: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Decontamination: training docs sharing ≥ ``min_shared`` distinct
    k-gram shingles with a benchmark document.

    The standard pre-training hygiene pass (benchmark leakage check):
    both corpora explode to (shingle-digest, id) rows — digests, not
    shingle text, ride the shuffle — and one digest-keyed equi-join +
    group-count finds overlapping pairs.  Cross-corpus and asymmetric,
    unlike the self-join dedup family: the benchmark side is typically
    tiny, so AQE broadcasts it and the training corpus never shuffles.

    ``max_shingle_df`` drops shingles appearing in more than that many
    benchmark docs (stop-shingle guard: a boilerplate phrase shared by
    every benchmark doc would otherwise fan out |train-hits| × |bench|).
    """
    t, b = _overlap_digests(train, bench, text_col, id_col, shingle_k,
                            max_shingle_df)
    return _shared_counts(t, b, min_shared)


def _overlap_digests(train: DataFrame, bench: DataFrame, text_col: str,
                     id_col: str, shingle_k: int,
                     max_shingle_df: int | None) -> tuple[DataFrame, DataFrame]:
    """(train_id, dig) and (bench_id, dig) rows — the md5 digests of
    each document's distinct k-word shingles — with the stop-shingle
    guard applied to the bench side."""
    def digests(df: DataFrame, out_id: str) -> DataFrame:
        sh = F.array_distinct(word_shingles(F.col(text_col), shingle_k))
        return (df.select(F.col(id_col).alias(out_id), sh.alias("sh"))
                .filter(F.size("sh") > 0)
                .select(out_id, F.explode("sh").alias("s"))
                .select(out_id, F.md5("s").alias("dig")))

    b = digests(bench, "bench_id")
    if max_shingle_df is not None:
        b = (b.withColumn("__df", F.size(F.collect_set("bench_id").over(
                Window.partitionBy("dig"))))
             .filter(F.col("__df") <= max_shingle_df).drop("__df"))
    return digests(widen_partitions(train), "train_id"), b


def _shared_counts(t: DataFrame, b: DataFrame, min_shared: int) -> DataFrame:
    """(train_id, bench_id, n_shared) for pairs sharing at least
    ``min_shared`` digests: one digest equi-join + group-count."""
    return (
        t.join(b, "dig")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Bloom-filter-pruned decontamination: the big-contamination-list
# variant of cross_corpus_overlap.  When the benchmark digest set fits
# the broadcast threshold, a broadcast hash join already probes each
# training shingle in O(1) and the Bloom filter buys nothing — the
# plain operator wins (measured: bitmap machinery adds ~1.5 s of fixed
# stage latency at the sf0.1/10× probes).  The regime this operator
# exists for is the one the plain join handles badly: a contamination
# list of 10^8–10^9 digests (every eval benchmark + held-out shard)
# whose hash table exceeds broadcast limits, forcing the CORPUS-sized
# shingle frame through a repartition join.  The bitmap stays
# broadcastable two orders of magnitude past the hash-table limit
# (10^9 keys ≈ 1.8 GiB at 14 bits/key for fp<1%), so the corpus side
# is pruned to overlap-sized BEFORE any exchange and only survivors
# shuffle into the exact join.  False positives only waste a probe
# (the exact digest join still decides membership); false negatives
# are impossible, so the final answer is EXACT and the DuckDB oracle
# is the same overlap SQL as the unpruned operator.

def bloom_bitmap(
    digs: DataFrame,
    dig_col: str = "dig",
    m_bits: int = 1 << 18,
    n_hashes: int = 3,
) -> DataFrame:
    """1-row frame with an ``array<long>`` Bloom bitmap (``m_bits`` bits
    as ``m_bits/64`` words) over a digest column.  Built fully
    distributed: positions are bit-OR-combined per 64-bit word in a
    groupBy, then packed into the array in a single 1-row aggregate —
    the only driver-adjacent object is the bitmap itself, which is the
    point (it must broadcast).  ``m_bits`` must be a positive multiple
    of 64 and ``n_hashes`` ≥ 1 (``ValueError`` otherwise).
    """
    return mf._bloom_pack(digs, F.col(dig_col), m_bits, n_hashes)


def bloom_cross_corpus_overlap(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_shared: int = 2,
    max_shingle_df: int | None = None,
    m_bits: int = 1 << 18,
    n_hashes: int = 3,
) -> DataFrame:
    """Exact decontamination (same contract/output as
    ``cross_corpus_overlap``) with a broadcast Bloom prefilter on the
    training side's shingle digests.  Plan shape: train scan → narrow
    shingle/digest map → 1-row broadcast bitmap check (BNLJ against a
    single-row side) → digest equi-join with the bench side → one
    group-count shuffle of only the overlapping rows.  ``m_bits`` must
    be a positive multiple of 64 and ``n_hashes`` ≥ 1 (``ValueError``
    otherwise, before any Spark work).
    """
    t, b = _overlap_digests(train, bench, text_col, id_col, shingle_k,
                            max_shingle_df)
    # b is consumed twice (bitmap build + exact join) but deliberately
    # NOT persisted: the bench scan is cheap and pipelined, while a
    # persist interposes a blocking materialization job on the critical
    # path ahead of the bitmap broadcast (measured 2.6× whole-query
    # slowdown at the 10× probe).  distinct() before the position
    # explode keeps the bitmap build proportional to the digest SET,
    # not bench corpus size × duplication.
    bitmap = bloom_bitmap(b.select("dig").distinct(),
                          m_bits=m_bits, n_hashes=n_hashes)
    pruned = (t.select("train_id", "dig",
                       *mf._bloom_positions(F.col("dig"), m_bits, n_hashes))
              .join(F.broadcast(bitmap))
              .filter(mf._bloom_hits(n_hashes))
              .select("train_id", "dig"))
    return _shared_counts(pruned, b, min_shared)


# --------------------------------------------------------------------
# Exact-substring duplication spans (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499 —
# the span-level signal document-level dedup misses: two documents
# that are globally different can still share a long verbatim run,
# and those runs are what LMs memorize).  Suffix arrays are the
# single-node tool; the shuffle-native equivalent is fixed-length
# token k-grams: a duplicated substring of length ≥ k contains a
# duplicated k-gram, so k-gram coverage is a superset-marking of
# every ≥k-token verbatim run shared across documents.
#
# Every span operator runs ONE engine in three stages:
#   front   (_doc_kgrams) — word, raw or char text → (base, kg): kg is
#           the positional (id, pos, dig) window-digest stream, base
#           holds what the rebuild reads;
#   cover   (_cover) — a start stream (the kg rows a predicate marks)
#           → covered positions, with a per-predicate mask when the
#           cut attributes its removals;
#   rebuild (_span_cut) — one select builds the kept text and its
#           accounting.
# The operators differ only in their start stream: cross-doc
# (_crossdoc_starts), index-gated (_gated_starts), benchmark
# (_benchmark_cut), intra-doc (remove_repeated_spans) or the composed
# union (_composed).  Each start stream keeps the shape measured
# fastest for its predicate; the stages after it are shared.

_ROLL_B = 0x9E3779B97F4A7C15  # odd ⇒ multiplication is a bijection mod 2^64


def _make_roller(k: int, id_name: str, extract):
    """Shared mapInArrow kernel core: per-document k-window rolling
    polynomial digests — O(n) per doc, vectorized numpy uint64.

    H(i) = Σ_{j=0..k-1} h[i+j]·B^j  (mod 2^64), computed for every i
    from one wraparound prefix sum: with P(g) = Σ_{g'<g} h[g']·B^{pos(g')}
    (positions doc-local), H(i) = (P(i+k) − P(i))·B^{−i} — B is odd so
    its inverse mod 2^64 exists (Newton iteration).  Identical windows
    get identical digests; distinct windows collide with probability
    ~2^-64 (element hashes are 64-bit mixed values, and any
    single-element difference is a nonzero value times an odd power —
    a bijection).  ``extract(batch) -> (vals_uint64, offs_int64)``
    supplies the flattened per-doc element-hash stream."""
    import numpy as np

    _err = np.seterr(over="ignore")  # wraparound is the algebra here
    try:
        B = np.uint64(_ROLL_B)
        binv = np.uint64(1)
        for _ in range(6):  # Newton: x ← x(2 − Bx) doubles correct bits
            binv = binv * (np.uint64(2) - B * binv)
    finally:
        np.seterr(**_err)
    pows = {"b": np.array([1], dtype=np.uint64),
            "i": np.array([1], dtype=np.uint64)}

    def _upto(n: int):
        # grow by doubling in C, nb[L:2L] = nb[:L]·B^L — no Python
        # loop per element (multi-MB documents in the char roller)
        nb, ni = pows["b"], pows["i"]
        with np.errstate(over="ignore"):
            while len(nb) <= n:
                nb = np.concatenate((nb, nb * (nb[-1] * B)))
                ni = np.concatenate((ni, ni * (ni[-1] * binv)))
        pows["b"], pows["i"] = nb, ni
        return nb, ni

    def roll(batches):
        import pyarrow as pa
        old = np.seterr(over="ignore")  # wraparound is the algebra here
        try:
            for b in batches:
                ids = b.column(b.schema.get_field_index(id_name))
                vals, offs = extract(b, np, pa)
                n = np.diff(offs)
                m = np.maximum(n - (k - 1), 0)
                total_w = int(m.sum())
                if total_w >= 2 ** 31:
                    # the output list offsets are int32 (Spark's
                    # array type); wrapping them would corrupt digests
                    raise ValueError(
                        f"rolling digest batch has {total_w} windows, "
                        f"over the 2^31 - 1 list-offset limit; lower "
                        f"spark.sql.execution.arrow.maxRecordsPerBatch")
                if total_w == 0:
                    out = pa.ListArray.from_arrays(
                        np.zeros(len(n) + 1, dtype=np.int32),
                        pa.array([], type=pa.int64()))
                    yield pa.RecordBatch.from_arrays(
                        [ids, out], [id_name, "__digs"])
                    continue
                bp, bi = _upto(int(n.max()))
                p = (np.arange(len(vals), dtype=np.int64)
                     - np.repeat(offs[:-1], n))
                s0 = np.empty(len(vals) + 1, dtype=np.uint64)
                s0[0] = 0
                np.cumsum(vals * bp[p], out=s0[1:])
                doc_idx = np.repeat(np.arange(len(n), dtype=np.int64), m)
                mstart = np.concatenate(([0], np.cumsum(m)))[:-1]
                s_local = (np.arange(total_w, dtype=np.int64)
                           - mstart[doc_idx])
                g0 = offs[:-1][doc_idx] + s_local
                w = (s0[g0 + k] - s0[g0]) * bi[s_local]
                out = pa.ListArray.from_arrays(
                    pa.array(np.concatenate(([0], np.cumsum(m)))
                             .astype(np.int32), type=pa.int32()),
                    pa.array(w.view(np.int64), type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    [ids, out], [id_name, "__digs"])
        finally:
            np.seterr(**old)

    # tests read the tables through this; the growth stays inside the
    # closure so the pickled kernel needs no package import on workers
    roll.powers = _upto
    return roll


def _rolling_digest_fn(k: int, id_name: str):
    """Roller over a pre-hashed token column ``__h`` (array<bigint>,
    one xxhash64 long per token — the JVM does that single O(n)
    string pass; the window digests are then O(n) here)."""

    def extract(b, np, pa):
        lst = b.column(b.schema.get_field_index("__h"))
        if isinstance(lst, pa.ChunkedArray):
            lst = lst.combine_chunks()
        offs = lst.offsets.to_numpy().astype(np.int64)
        vals = lst.values.to_numpy().view(np.uint64)
        if offs[0] != 0 or offs[-1] != len(vals):
            vals = vals[offs[0]:offs[-1]]  # sliced list array
            offs = offs - offs[0]
        return vals, offs

    return _make_roller(k, id_name, extract)


def _rolling_char_digest_fn(k: int, id_name: str):
    """Roller over the raw text column ``__t``: decode each document
    to codepoints (utf-32, one C-speed pass per row), mix every
    codepoint through the splitmix64 finalizer for 64-bit dispersion,
    then the shared O(n) rolling window.  No per-character string
    array is ever built."""

    def extract(b, np, pa):
        col = b.column(b.schema.get_field_index("__t"))
        txts = col.to_pylist()
        arrs = [np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                if s else np.empty(0, dtype=np.uint32) for s in txts]
        n = np.array([len(a) for a in arrs], dtype=np.int64)
        offs = np.concatenate(([0], np.cumsum(n)))
        vals = (np.concatenate(arrs) if len(arrs)
                else np.empty(0, dtype=np.uint32)).astype(np.uint64)
        # splitmix64 finalizer — codepoints are tiny ints, windows
        # need full-width element entropy for the 2^-64 collision bound
        z = vals + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31)), offs

    return _make_roller(k, id_name, extract)


def _doc_kgrams(docs, text_col: str, id_col: str, k: int,
                front: str = "word"):
    """The span family's front → (base, kg).  ``kg`` is the positional
    (id, pos, dig) k-window digest stream (pos 1-based; documents
    shorter than k emit nothing), rolled by ONE vectorized mapInArrow
    kernel for every front and every k.  ``base`` holds what the
    rebuild reads:

    - ``word``: (id, ts) — lowercased, trimmed, ``\\s+``-split tokens;
      each token is hashed once in the JVM (xxhash64).
    - ``raw``: (id, tr, sp) — the ``\\S+`` tokens and the separators
      between them, from the ``\\s``-stripped ORIGINAL text, so the
      rewrite is byte-faithful while digests hash lowercased tokens
      (detection case-insensitive).  Both sides of a raw cut must
      shingle through this front: the word front's ``trim()`` strips
      ASCII spaces only, so its positions can shift by one on
      leading-tab documents.
    - ``char``: (id, __t, __n) — the text itself; windows are k
      codepoints (case-sensitive).

    Digests are internal equality proxies on both sides of every
    oracle, so the digest FUNCTION only has to be deterministic and
    collision-free at corpus scale (see ``_make_roller``); the 8-byte
    long digest keeps every dig-keyed exchange and persisted index
    row small."""
    if front == "char":
        base = docs.select(F.col(id_col), F.col(text_col).alias("__t"),
                           F.length(F.col(text_col)).alias("__n"))
        hashed = base.filter(F.col("__n") >= k).select(id_col, "__t")
        roller = _rolling_char_digest_fn
    else:
        if front == "word":
            base = docs.select(
                F.col(id_col),
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
                .alias("ts"))
            h = F.transform("ts", lambda t: F.xxhash64(t))
        else:
            stripped = (f"regexp_replace({text_col}, "
                        f"'^\\\\s+|\\\\s+$', '')")
            base = docs.select(
                F.col(id_col),
                F.expr(f"regexp_extract_all({stripped}, '\\\\S+', 0)")
                .alias("tr"),
                F.expr(f"regexp_extract_all({stripped}, '\\\\s+', 0)")
                .alias("sp"))
            h = F.transform("tr", lambda t: F.xxhash64(F.lower(t)))
        hashed = base.select(F.col(id_col), h.alias("__h"))
        roller = _rolling_digest_fn
    id_field = hashed.schema[id_col]
    out_type = T.StructType([
        id_field,
        T.StructField("__digs", T.ArrayType(T.LongType(), False), True),
    ])
    digs = hashed.mapInArrow(roller(k, id_field.name), out_type)
    kg = (digs.select(id_col, F.posexplode("__digs").alias("off", "dig"))
          .select(id_col, (F.col("off") + 1).alias("pos"), "dig"))
    return base, kg


def _dup_digs(counts, spark=None, table_prefix=None):
    """Cross-document duplicated digests from per-digest document
    counts (dig, nd): nd > 1 — or, index-gated, nd > 1 OR the digest
    is in the persisted ``{table_prefix}_kgrams`` index (some admitted
    document carries it; the batch occurrence is the second).  The
    gate is one left join against the bucketed index, not a
    two-branch union."""
    keep = F.col("nd") > 1
    if table_prefix is not None:
        from legate_dataframe_spark.core.bucketing import read_bucketed

        idx = read_bucketed(spark, f"{table_prefix}_kgrams").select("dig")
        counts = counts.join(idx.withColumn("__in_idx", F.lit(1)),
                             "dig", "left")
        keep = keep | F.col("__in_idx").isNotNull()
    return counts.filter(keep).select("dig")


def _doc_counts(kg, id_col: str, name: str):
    """(dig, name): distinct documents per digest."""
    return (kg.select("dig", id_col).distinct()
            .groupBy("dig").agg(F.count(F.lit(1)).alias(name)))


def _crossdoc_starts(kg, id_col: str):
    """Full-corpus cross-doc start stream: the kg rows whose digest
    occurs in ≥2 documents.  kg feeds two branches (the digest count
    and the semi-join) and Spark has no cross-branch CSE, so without
    a materialization the digest front would run once per branch
    (measured 2× its cost end-to-end at sf0.1): write once, read
    twice."""
    kg = kg.localCheckpoint(eager=True)
    counts = (kg.groupBy("dig")
              .agg(F.count_distinct(F.col(id_col)).alias("nd")))
    return kg.join(_dup_digs(counts), "dig", "left_semi")


def _gated_starts(spark, kg, table_prefix: str, id_col: str):
    """Index-gated cross-doc start stream of a batch (against corpus ∪
    batch).  Not checkpointed: a per-trigger materialization barrier
    costs the streaming chains more than the batch-sized digest
    re-evaluation it would spare."""
    dup = _dup_digs(_doc_counts(kg, id_col, "nd"), spark, table_prefix)
    return kg.join(dup, "dig", "left_semi")


def _cover(starts, id_col: str, k: int, out: str = "pos",
           masked: bool = False):
    """Start stream (id, pos[, mask]) → covered positions ``out``:
    each start covers [pos, pos + k − 1], so only starts pay the ×k
    explode.  Unmasked, the result is the distinct (id, out) set;
    masked, every covered position keeps the mask of each start
    covering it (the attribution counts dedupe downstream)."""
    keep = [F.col(id_col)] + ([F.col("mask")] if masked else [])
    cov = starts.select(*keep, F.explode(F.sequence(
        F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(out))
    return cov if masked else cov.distinct()


# per-predicate attribution: (output column, start-mask bit)
_ATTRIBUTION = (("cov_benchmark", 4), ("cov_crossdoc", 2),
                ("cov_intradoc", 1))


def _span_cut(base, starts, id_col: str, k: int, front: str = "word",
              attributed: bool = False):
    """Cover + rebuild: cut every position a start covers from base's
    text → (id, n_*, removed_*, kept_*, dup_ratio[, cov_*],
    text_clean*).

    Tokens never shuffle: each document's cover aggregates to one
    array (dup-mass-sized shuffle), one doc-count-sized join attaches
    it to the base row, and one select — all whole-stage codegen —
    rebuilds the text and its accounting:

    - ``word``: kept positions = ``array_except(sequence(1, n),
      cov)`` (order-preserving), joined with single spaces.
    - ``raw``: the same kept positions; a kept token glues to its
      ORIGINAL left separator when its left neighbor was kept too,
      else to one space.
    - ``char``: covered windows merge into intervals per document
      (an islands window over the dup-mass-sized starts — no ×k
      explode at all), and the text is the ``substring`` slices of
      the kept gaps.  Per-row state is O(intervals), not O(chars).

    A null text has no positions: its cleaned text, size, kept count
    and ratio are null, and it removes nothing."""
    if front == "char":
        w = Window.partitionBy(id_col).orderBy("pos")
        prev_end = F.max("end").over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        cov = (starts.select(id_col, "pos",
                             (F.col("pos") + F.lit(k - 1)).alias("end"))
               .withColumn("new_grp",
                           F.when(prev_end.isNull()
                                  | (F.col("pos") > prev_end + 1), 1)
                           .otherwise(0))
               .withColumn("grp", F.sum("new_grp").over(
                   w.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy(id_col, "grp")
               .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
                    .alias("iv")))
    elif attributed:
        cov = (_cover(starts, id_col, k, "p", masked=True)
               .groupBy(id_col)
               .agg(F.collect_set("p").alias("cov"),
                    *[F.count_distinct(
                        F.when(F.col("mask").bitwiseAND(bit) > 0,
                               F.col("p"))).alias(name)
                      for name, bit in _ATTRIBUTION]))
    else:
        cov = (_cover(starts, id_col, k).groupBy(id_col)
               .agg(F.collect_list("pos").alias("cov")))
    j = base.join(cov, id_col, "left")
    if front == "char":
        n, unit, name = F.col("__n"), "chars", "text_clean_chars"
        ivs = F.coalesce(F.col("iv"), F.when(
            n.isNotNull(), F.array().cast("array<struct<s:int,e:int>>")))
        removed = F.coalesce(
            F.aggregate(ivs, F.lit(0),
                        lambda a, x: a + x["e"] - x["s"] + 1), F.lit(0))
        # kept gaps: starts = 1 ∪ (each island's e+1); ends = (each
        # island's s-1) ∪ n — zip to substring slices, empty when b < a
        text = F.array_join(F.zip_with(
            F.concat(F.array(F.lit(1)),
                     F.transform(ivs, lambda x: x["e"] + 1)),
            F.concat(F.transform(ivs, lambda x: x["s"] - 1),
                     F.array(n)),
            lambda a, b: F.when(b >= a, F.col("__t").substr(a, b - a + 1))
            .otherwise(F.lit(""))), "")
    else:
        toks = "ts" if front == "word" else "tr"
        n, unit = F.size(toks), "tokens"
        removed = F.coalesce(F.size("cov"), F.lit(0))
        # a word doc always has ≥1 token (split('') is ['']); a raw
        # one may have none, and sequence(1, 0) would count down
        every = F.sequence(F.lit(1), n)
        if front == "raw":
            every = F.when(n == 0, F.array().cast("array<int>")) \
                .otherwise(every)
        # array_except preserves the LEFT array's order, so ascending
        # kept positions rebuild the residual text in document order
        kept = F.array_except(
            every, F.coalesce(F.col("cov"), F.array().cast("array<int>")))
        if front == "word":
            name = "text_clean"
            text = F.array_join(F.transform(
                kept, lambda i: F.element_at(F.col("ts"), i)), " ")
        else:
            # kept token i (1-based) glues to separator sp[i-1] when
            # token i-1 was kept too; F.get is 0-based, idx is the
            # lambda's 0-based array index
            name = "text_clean_raw"
            text = F.array_join(F.transform(
                kept,
                lambda i, idx: F.when(idx == 0, F.get(F.col("tr"), i - 1))
                .when(F.get(kept, idx - 1) == i - 1,
                      F.concat(F.get(F.col("sp"), i - 2),
                               F.get(F.col("tr"), i - 1)))
                .otherwise(F.concat(F.lit(" "),
                                    F.get(F.col("tr"), i - 1)))), "")
    ratio = F.round(removed / n, 6)
    if front != "word":
        ratio = F.when(n == 0, F.lit(0.0)).otherwise(ratio)
    return j.select(
        id_col,
        n.cast("long").alias(f"n_{unit}"),
        removed.cast("long").alias(f"removed_{unit}"),
        (n - removed).cast("long").alias(f"kept_{unit}"),
        ratio.alias("dup_ratio"),
        *[F.coalesce(c, F.lit(0)).cast("long").alias(c)
          for c, _ in (_ATTRIBUTION if attributed else ())],
        text.alias(name))


def _span_coverage(base, starts, id_col: str, k: int):
    """Covered-token accounting (no rebuild) → (id, n_tokens,
    covered_tokens, dup_ratio)."""
    covered = (_cover(starts, id_col, k, "t").groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("covered_tokens")))
    return (base.select(id_col, F.size("ts").cast("long")
                        .alias("n_tokens"))
            .join(covered, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce("covered_tokens", F.lit(0))
                    .cast("long").alias("covered_tokens"))
            .withColumn("dup_ratio",
                        F.round(F.col("covered_tokens")
                                / F.col("n_tokens"), 6)))


def substring_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document coverage of CROSS-DOCUMENT duplicated k-token
    spans: → (doc_id, n_tokens, covered_tokens, dup_ratio), where
    covered_tokens counts token positions lying inside at least one
    k-gram that also appears in ANOTHER document, and dup_ratio is
    the memorization-risk fraction a span-level dedup pass would
    remove.  Documents shorter than k tokens carry no k-grams and
    score 0.

    Scale shape: one narrow tokenize + rolling-digest map, one
    groupBy shuffle on the k-gram digest to find cross-doc duplicates
    (the only corpus-sized exchange, partial-aggregated map-side), a
    semi-join of the digest stream against the duplicated-digest set
    (no broadcast assumption — boilerplate digests can be
    corpus-scale), and a bounded ×k position explode of ONLY the
    duplicated shingles.  No suffix array, no all-pairs, nothing
    driver-side.
    """
    base, kg = _doc_kgrams(docs, text_col, id_col, k)
    return _span_coverage(base, _crossdoc_starts(kg, id_col), id_col, k)


def remove_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Materialize the DEDUPLICATED CORPUS — each document's text with
    every cross-document duplicated span CUT (Lee et al.,
    arXiv:2107.06499 §4: the paper's tool rewrites the corpus; the
    dup_ratio signal alone is not the artifact a training pipeline
    feeds the tokenizer).  → (doc_id, n_tokens, removed_tokens,
    kept_tokens, dup_ratio, text_clean), where ``text_clean`` is the
    whitespace-normalized token stream minus every position covered by
    a k-gram that also appears in ANOTHER document.  Overlapping and
    adjacent duplicated spans merge for free — coverage is a property
    of POSITIONS, not of span records — and ``k`` is the minimum span
    guard: no run shorter than k tokens is ever cut.
    ``removed_tokens`` equals :func:`substring_dup_spans`'s
    ``covered_tokens`` by construction (both derive from the same
    covered-position set), so the accounting reconciles exactly with
    the dup_ratio signal.  A null text gives a null ``text_clean``
    (null n_tokens/kept_tokens/dup_ratio, nothing removed).

    Tokens are ``split(trim(lower(text)), '\\s+')``, and ``trim``
    strips ASCII spaces only (DuckDB's ``trim`` does too), so a text
    that starts with a tab or newline has an empty first token: it
    counts in ``n_tokens`` and is cut like any other token
    (``"\\tfoo bar baz"`` has 4 tokens here and 3 in
    :func:`remove_dup_spans_raw`).  Every word-front oracle shares
    this contract.

    Scale shape: the k-gram digest groupBy is the one corpus-sized
    exchange (shared with the signal query); only duplicated shingles
    pay the ×k position explode; tokens never shuffle — each touched
    document's covered positions aggregate to one array and the
    rebuild is codegen array arithmetic (:func:`_span_cut`).  Nothing
    is driver-side; no suffix array, no all-pairs."""
    base, kg = _doc_kgrams(docs, text_col, id_col, k)
    return _span_cut(base, _crossdoc_starts(kg, id_col), id_col, k)


def remove_dup_spans_raw(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Span removal that preserves the ORIGINAL text — case and
    inner whitespace intact outside the cuts (lowercasing the corpus
    to dedup it is destructive; Lee et al.'s tool cuts the raw bytes).
    → (doc_id, n_tokens, removed_tokens, kept_tokens, dup_ratio,
    text_clean_raw), where ``text_clean_raw`` keeps every original
    byte of the kept token runs INCLUDING their internal separators,
    each cut span collapses to a single space, and leading/trailing
    whitespace is trimmed.  Duplicate detection is case-insensitive
    (digests over lowercased tokens — the same duplicated-span set
    as :func:`remove_dup_spans`); the REWRITE is byte-preserving.
    A null text gives a null ``text_clean_raw`` (null
    n_tokens/kept_tokens/dup_ratio, nothing removed).

    Mechanics, all JVM-side apart from the rolling digest: tokens and
    separators come from two ``regexp_extract_all`` passes over the
    stripped text (separators sit exactly BETWEEN tokens: sep[i]
    separates token i from token i+1), digests from the same token
    array, so covered positions index the raw tokens exactly.  Tokens
    never shuffle (same plan shape as :func:`remove_dup_spans`)."""
    base, kg = _doc_kgrams(docs, text_col, id_col, k, "raw")
    return _span_cut(base, _crossdoc_starts(kg, id_col), id_col, k,
                     "raw")


def _benchmark_cut(train, bench_digs, text_col: str, id_col: str,
                   k: int):
    """The benchmark start stream: train kg rows whose digest is in
    ``bench_digs`` — one test occurrence is already contamination."""
    base, kg = _doc_kgrams(train, text_col, id_col, k)
    return _span_cut(base, kg.join(bench_digs, "dig", "left_semi"),
                     id_col, k)


def remove_contaminated_spans(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """SPAN-LEVEL DECONTAMINATION: cut from every TRAIN document each
    ≥k-token run that appears verbatim (case-insensitive) anywhere in
    the TEST corpus — the contamination-removal pass a training
    pipeline runs against its benchmark suites (doc- or n-gram-level
    decontamination drops whole documents or just FLAGS overlap; the
    span cut keeps the rest of the document, losing only the leaked
    benchmark text).  Same output schema as :func:`remove_dup_spans`
    (n_tokens, removed_tokens, kept_tokens, dup_ratio, text_clean)
    over the train side, null texts included.  A test k-gram marks
    train positions whether or not any train document shares it with
    ANOTHER train document — one occurrence of benchmark text is
    already contamination.

    Scale shape: the train side pays the :func:`remove_dup_spans`
    plan minus its cross-doc aggregate (explode only on contaminated
    shingles, codegen rebuild); the test side — benchmark suites,
    orders of magnitude smaller than the corpus — contributes one
    distinct-digest set to the semi-join (NOT force-broadcast:
    "benchmark-sized" is usually small but is not a bound, and AQE
    broadcasts it when it is)."""
    return _benchmark_cut(
        train, _doc_kgrams(test, text_col, id_col, k)[1]
        .select("dig").distinct(), text_col, id_col, k)


def remove_repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """INTRA-document repetition removal: cut every ≥k-token run that
    already occurred EARLIER in the same document, keeping the first
    occurrence — the within-doc half of Lee et al.'s dedup (navbars,
    repeated boilerplate blocks, degenerate generation loops repeat
    INSIDE a page; the cross-doc operators deliberately exclude
    same-doc repeats via ``count_distinct(doc)``).  Deterministic
    keep-first policy: a position is covered iff it lies inside a
    k-window whose k-gram has an occurrence starting at a STRICTLY
    EARLIER position in the same document.  Same output schema as
    :func:`remove_dup_spans`, null texts included.

    Scale shape: the duplicated-window detection is a per-(doc,
    digest) min-position window — partitioned BY DOCUMENT, so the
    exchange key space is the corpus's shingle stream but every
    group is doc-local (no cross-doc hot digests: the boilerplate
    k-gram that appears in a billion documents lands in a billion
    separate groups, not one); the ×k explode is paid only by repeat
    windows and the rebuild is the family's shared codegen array
    arithmetic."""
    base, kg = _doc_kgrams(docs, text_col, id_col, k)
    w = Window.partitionBy(id_col, "dig")
    repeats = (kg.withColumn("first_pos", F.min("pos").over(w))
               .filter(F.col("pos") > F.col("first_pos"))
               .select(id_col, "pos"))
    return _span_cut(base, repeats, id_col, k)


def _iterate_span_cut(first: DataFrame, recut, id_col: str,
                      max_iters: int = 8) -> DataFrame:
    """Drive a span cut to its FIXPOINT (ADVICE r12): a single pass
    is not idempotent in general — cutting a span makes the kept
    prefix and suffix adjacent, and the junction can form a NEW
    k-gram that itself matches the predicate (benchmark digest /
    earlier same-doc occurrence).  ``first`` is the pass-1 output
    (the span family's 6-column schema); ``recut(frame)`` re-applies
    the same cut to an (id, text) frame.  Accounting stays anchored
    to the ORIGINAL document: ``n_tokens`` never changes, removals
    accumulate, ``kept_tokens``/``dup_ratio`` describe the final
    text.

    CONTRACT: the recut predicate must be DOC-STABLE — a document's
    pass-(i+1) cuts may depend only on that document's current text
    plus pass-invariant reference digests (benchmark set, intra-doc
    repeats).  Both instantiations qualify; a cross-document dup
    predicate would NOT (other docs' digests change as they are
    cut).  Under that contract a document the previous pass did not
    touch is text-identical to an input the predicate already
    cleared, so each pass ≥2 recuts ONLY the documents the previous
    pass cut (junction k-grams can only form at a cut) — the
    convergence probe is touched-mass-sized, not corpus-sized, and
    a duplicate-free corpus pays one near-empty job.  ``max_iters``
    is a divergence guard, not a tuning knob."""
    cur = first.localCheckpoint(eager=True)
    active = cur.filter(F.col("removed_tokens") > 0)
    for _ in range(max_iters):
        nxt = recut(active.select(
            F.col(id_col),
            F.col("text_clean").alias("text"))).localCheckpoint(
                eager=True)
        extra = nxt.agg(F.sum("removed_tokens")).first()[0] or 0
        if extra == 0:
            return cur
        merged_removed = (F.col("a.removed_tokens")
                          + F.coalesce(F.col("b.removed_tokens"),
                                       F.lit(0)))
        cur = (cur.alias("a")
               .join(nxt.alias("b"), F.col(f"a.{id_col}")
                     == F.col(f"b.{id_col}"), "left")
               .select(F.col(f"a.{id_col}").alias(id_col),
                       F.col("a.n_tokens").alias("n_tokens"),
                       merged_removed.alias("removed_tokens"),
                       (F.col("a.kept_tokens")
                        - F.coalesce(F.col("b.removed_tokens"),
                                     F.lit(0)))
                       .alias("kept_tokens"),
                       F.round(merged_removed / F.col("a.n_tokens"),
                               6).alias("dup_ratio"),
                       F.coalesce(F.col("b.text_clean"),
                                  F.col("a.text_clean"))
                       .alias("text_clean"))
               .localCheckpoint(eager=True))
        # only docs this pass cut can have formed a new junction
        active = nxt.filter(F.col("removed_tokens") > 0)
    raise AssertionError(
        f"span cut did not reach a fixpoint in {max_iters} passes")


def remove_contaminated_spans_fixpoint(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_iters: int = 8,
) -> DataFrame:
    """:func:`remove_contaminated_spans` iterated to a FIXPOINT, so
    the zero-leak certificate is a guaranteed law of the output on
    EVERY corpus (ADVICE r12: a single pass can leave a junction
    k-gram that matches a benchmark digest — train ``t1..t4 <leaked
    span> t5..t8`` where ``t1..t8`` is itself a benchmark 8-gram).
    On corpora where the single pass already converges (all real
    ones measured) the extra cost is one convergence probe over the
    pass-1 TOUCHED documents (uncut docs carry the zero-leak law by
    construction — see :func:`_iterate_span_cut`'s contract) and the
    result is IDENTICAL to the single pass.  A null text gives a null
    ``text_clean``, as in the single pass."""
    test_digs = (_doc_kgrams(test, text_col, id_col, k)[1]
                 .select("dig").distinct().localCheckpoint(eager=True))

    def recut(frame: DataFrame) -> DataFrame:
        return _benchmark_cut(frame, test_digs, "text", id_col, k)

    first = _benchmark_cut(train, test_digs, text_col, id_col, k)
    return _iterate_span_cut(first, recut, id_col, max_iters)


def remove_repeated_spans_fixpoint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_iters: int = 8,
) -> DataFrame:
    """:func:`remove_repeated_spans` iterated to a FIXPOINT, making
    idempotence a guaranteed law of the output (ADVICE r12: cutting
    a repeat can join a kept prefix and suffix into a NEW k-gram
    that repeats earlier same-doc text; a second keep-first pass
    cuts it).  Composition semantics: iterated keep-first — each
    pass keeps the first occurrence of every repeated k-gram of the
    CURRENT text; the fixpoint is the first text stable under that
    rule.  Identical to the single pass whenever pass 2 removes
    nothing (all real corpora measured); each probe pass recuts only
    the documents the previous pass touched (uncut docs are
    idempotent by construction — :func:`_iterate_span_cut`).  A null
    text gives a null ``text_clean``, as in the single pass."""

    def recut(frame: DataFrame) -> DataFrame:
        return remove_repeated_spans(frame, "text", id_col, k)

    return _iterate_span_cut(
        remove_repeated_spans(docs, text_col, id_col, k),
        recut, id_col, max_iters)


def _composed(docs, benchmarks, text_col: str, id_col: str, k: int,
              front: str, spark=None, table_prefix=None,
              explain_occ: bool = False):
    """The composed start stream (benchmark ∪ cross-doc ∪ intra-doc,
    each with its mask bit) through the attributed cut → (cut, occ's
    formatted physical plan captured BEFORE checkpointing, or None).
    With ``table_prefix`` the cross-doc predicate is index-gated.

    ONE dig-keyed flags table (benchmark ∪ crossdoc marks), ONE join
    against occ, ONE explode carrying a predicate BITMASK — not three
    tagged start streams: on heavily-duplicated corpora the benchmark
    and crossdoc covers are each ~every position, so per-predicate
    streams explode the same windows 2–3× (measured 2× the SUM of the
    individual cuts at the 10× replica layout)."""
    base, kg = _doc_kgrams(docs, text_col, id_col, k, front)
    # unsorted collect_list: the keep-first rule needs only the
    # MINIMUM position, computed per row before the explode
    occ = (kg.groupBy(id_col, "dig")
           .agg(F.collect_list("pos").alias("poss")))
    occ_plan = None
    if explain_occ:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            occ.explain(mode="formatted")
        occ_plan = buf.getvalue()
    occ = occ.localCheckpoint(eager=True)
    bench_digs = (_doc_kgrams(benchmarks, text_col, id_col, k, front)[1]
                  .select("dig").distinct())
    # one row per (doc, dig) ⇒ count(*) per dig == count_distinct(doc)
    crossdup_digs = _dup_digs(
        occ.groupBy("dig").agg(F.count(F.lit(1)).alias("nd")),
        spark, table_prefix)
    dig_flags = (crossdup_digs.withColumn("c", F.lit(True))
                 .join(bench_digs.withColumn("b", F.lit(True)),
                       "dig", "full")
                 .select("dig", F.coalesce("b", F.lit(False)).alias("b"),
                         F.coalesce("c", F.lit(False)).alias("c")))
    hits = (occ.join(dig_flags, "dig", "left")
            .select(id_col, "poss",
                    F.array_min("poss").alias("fp"),
                    F.coalesce("b", F.lit(False)).alias("b"),
                    F.coalesce("c", F.lit(False)).alias("c"))
            .filter(F.col("b") | F.col("c")
                    | (F.size("poss") > 1)))
    # keep-first rule: a start is an intra-doc repeat iff it is not
    # the group's MINIMUM position; b/c apply to every occurrence
    starts = (hits.select(
        F.col(id_col), F.col("b"), F.col("c"), F.col("fp"),
        F.explode("poss").alias("pos"))
        .select(id_col, "pos",
                (F.when(F.col("b"), 4).otherwise(0)
                 + F.when(F.col("c"), 2).otherwise(0)
                 + F.when(F.col("pos") > F.col("fp"), 1).otherwise(0))
                .alias("mask"))
        .filter(F.col("mask") > 0))
    return (_span_cut(base, starts, id_col, k, front, attributed=True),
            occ_plan)


def clean_corpus(
    docs: DataFrame,
    benchmarks: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    return_occ_plan: bool = False,
):
    """The COMPOSED corpus build (VERDICT r12 task 1): benchmark
    decontamination + cross-document dedup + intra-document
    repetition removal applied off ONE shingle pass — the plan a
    100 TB pre-training run actually executes, instead of three
    full-corpus scans each paying its own corpus-sized k-gram
    exchange.

    **Composition semantics (defined here, deliberately):** a token
    position is covered iff, ON THE ORIGINAL CORPUS, it lies inside a
    k-window whose k-gram (a) appears anywhere in the benchmark
    suite, (b) appears in another document, or (c) occurred at an
    earlier position of the same document — the SIMULTANEOUS union
    of the three single-pass covers.  This union is the right
    composition, not an implementation shortcut:

    - it is ORDER-INDEPENDENT — sequential application has 6
      orderings that produce different corpora (an earlier cut
      destroys the evidence a later predicate needs: a duplicated
      span partially removed by decontamination leaves a <k
      fragment sequential dedup can no longer see — yet that text
      WAS duplicated in the corpus, so cutting it, as the union
      does, is the defensible semantics);
    - it is the only composition computable off a single shingle
      exchange, which is the entire point at 100 TB;
    - it differs from any sequential order only at cut junctions
      (a k-gram formed by a removal — measured zero on real
      corpora) and partial span overlaps; where a guaranteed
      residual-free output is required, iterate the composed cut
      exactly as :func:`_iterate_span_cut` does for the single
      predicates.

    Output: the span family's schema plus per-predicate attribution
    — (doc_id, n_tokens, removed_tokens, kept_tokens, dup_ratio,
    cov_benchmark, cov_crossdoc, cov_intradoc, text_clean), where
    the three ``cov_*`` count the positions covered by each
    predicate alone (overlapping positions count in each, so
    ``max(cov_*) <= removed_tokens <= cov_benchmark + cov_crossdoc
    + cov_intradoc`` — both laws asserted by the registry query).
    A null text gives a null ``text_clean`` (null
    n_tokens/kept_tokens/dup_ratio, every removal count 0).

    Scale shape: the positional shingle stream crosses the wire
    EXACTLY ONCE — ``occ = kg.groupBy(doc, dig)`` (doc-local groups:
    the billion-document boilerplate k-gram lands in a billion
    separate groups, never one hot reducer), materialized via
    localCheckpoint so all three predicates read it without
    recomputation.  Cross-doc duplication needs one further
    DIGEST-CARDINALITY exchange over occ (8-byte digests,
    map-side-combined counts — a fraction of the positional
    exchange's bytes); benchmark and crossdoc marks merge into ONE
    dig-keyed flags table joined once against occ (AQE-broadcast
    when small); the intra-doc predicate is positional inside the
    same explode — NO exchange at all.  Predicate-hit starts explode
    ONCE carrying a 3-bit mask, and the rebuild is the family's
    shared codegen array arithmetic.  Pass ``return_occ_plan=True``
    to also get occ's physical-plan string (captured BEFORE
    checkpointing) so callers can assert the one-exchange
    property."""
    out, occ_plan = _composed(docs, benchmarks, text_col, id_col, k,
                              "word", explain_occ=return_occ_plan)
    if return_occ_plan:
        return out, occ_plan
    return out


def clean_corpus_batch(
    spark,
    batch: DataFrame,
    benchmarks: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """The composed corpus build as an INGEST step: arriving batch
    documents get all three cuts — benchmark decontamination,
    cross-document dedup against corpus ∪ batch, intra-document
    repetition removal — off the batch's OWN shingle pass plus one
    probe into the persisted k-gram index
    (:func:`build_substring_index`); the admitted corpus is never
    rescanned.  A batch position's cross-doc predicate holds iff its
    digest exists in the index (some admitted document carries it)
    or ≥2 distinct batch documents share it — exactly the full
    :func:`clean_corpus` recompute over corpus ∪ batch restricted to
    the batch (the index records presence of ≥1 corpus doc, and the
    batch occurrence itself supplies the second document), so the
    equivalence is unconditional, not a disjointness assumption.
    Same 9-column attributed output as :func:`clean_corpus`, null
    texts included.

    Scale shape: the batch pays its own (doc, digest) occurrence
    aggregate (batch-sized); the index side is read in place
    (bucketed on dig — plan-assertable); benchmark digests ride the
    shared flags join; the rebuild touches batch docs only."""
    return _composed(batch, benchmarks, text_col, id_col, k, "word",
                     spark, table_prefix)[0]


def clean_corpus_raw(
    docs: DataFrame,
    benchmarks: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """The composed corpus build with the BYTE-PRESERVING rewrite —
    :func:`clean_corpus`'s simultaneous-union cover (benchmark ∪
    cross-doc ∪ intra-doc, all evaluated on the original corpus)
    applied through :func:`remove_dup_spans_raw`'s rebuild: original
    case and inner whitespace kept inside every surviving run, each
    cut collapsing to one space, detection case-insensitive.  This
    is the artifact a production pipeline actually ships — the
    normalized form destroys bytes; Lee et al.'s tool cuts the raw
    text.  Output: the attributed 9-column schema with
    ``text_clean_raw`` in place of ``text_clean``.  A null text gives
    a null ``text_clean_raw`` (null n_tokens/kept_tokens/dup_ratio,
    every removal count 0).

    Same scale shape as :func:`clean_corpus`: one positional
    occurrence exchange (doc-local groups), a dig-keyed flags join,
    one masked cover explode, and a per-doc codegen rebuild — the
    raw rebuild adds only the separator array and the
    glue-to-original-left-separator transform."""
    return _composed(docs, benchmarks, text_col, id_col, k, "raw")[0]


def remove_dup_spans_chars(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """CHARACTER-shingle span removal — the tokenizer-independent
    form of :func:`remove_dup_spans` (VERDICT r11 task 3: the word
    family splits on ``\\s+``, so scripts without whitespace word
    boundaries — CJK, fused punctuation — get no or misaligned
    coverage; Lee et al., arXiv:2107.06499, operate on BPE/byte
    sequences, and char k-grams are the codepoint-level equivalent
    that needs no vocabulary).  → (doc_id, n_chars, removed_chars,
    kept_chars, dup_ratio, text_clean_chars), where a character
    position is covered iff it lies inside a k-char substring that
    appears verbatim (case-sensitive — byte fidelity) in ANOTHER
    document, and ``text_clean_chars`` is the original text minus
    the covered characters.  ``k`` is the minimum cut length in
    characters (Lee et al. use 50 BPE tokens; 20–50 chars is the
    comparable band).  A null text gives a null ``text_clean_chars``
    (null n_chars/kept_chars/dup_ratio, nothing removed).

    Scale shape: identical to the word form's front — ONE
    corpus-sized k-gram digest groupBy (map-side combined; ~wordlen×
    more shingle rows than the word form, the price of tokenizer
    independence) — but the rebuild is INTERVAL-based (VERDICT r12
    task 4, see :func:`_span_cut`): a 5 MB document with three
    duplicated runs carries three structs, where a per-char form
    would materialize a 5-million-int position array and transform it
    element-wise (OPTIMIZATION_r13.md records the measured gap).
    Characters never shuffle."""
    base, kg = _doc_kgrams(docs, text_col, id_col, k, "char")
    return _span_cut(base, _crossdoc_starts(kg, id_col), id_col, k,
                     "char")


def dup_span_intervals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """MERGED duplicated-span INTERVALS per document →
    (doc_id, span_start, span_end, span_tokens), 1-based inclusive
    token positions — the audit artifact of span-level dedup: what
    exactly would :func:`remove_dup_spans` cut, as ranges a reviewer
    (or a byte-offset rewriter working on the ORIGINAL text) can act
    on.  Adjacent and overlapping covered runs merge into one
    interval (islands over the covered-position set: positions with
    equal ``pos − row_number`` belong to one run); every interval is
    ≥ k tokens by construction.

    Scale shape: the digest groupBy is the one corpus-sized exchange;
    the islands window partitions by document over COVERED positions
    only (duplicated spans, not the corpus), so the window state is
    dup-mass-sized."""
    _, kg = _doc_kgrams(docs, text_col, id_col, k)
    covered = _cover(_crossdoc_starts(kg, id_col), id_col, k)
    w = Window.partitionBy(id_col).orderBy("pos")
    return (covered
            .withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy(id_col, "grp")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 F.max("pos").cast("long").alias("span_end"),
                 F.count(F.lit(1)).cast("long").alias("span_tokens"))
            .drop("grp"))


def batch_remove_dup_spans(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """INCREMENTAL span removal: cut BATCH documents against
    corpus ∪ batch off the persisted k-gram index — the ingest-time
    form of :func:`remove_dup_spans` (a pipeline cleans arriving
    documents against everything already admitted WITHOUT rescanning
    the corpus).  A batch position is cut iff its k-gram digest
    exists in the index (some corpus document carries it) or ≥2
    distinct batch documents share it; for a corpus-disjoint batch
    the output is IDENTICAL to the full recompute restricted to the
    batch — the equivalence the driver oracle checks.  Null texts
    behave as in :func:`remove_dup_spans`.

    Scale shape: the index side is read in place (bucketed on dig);
    only the batch's digests shuffle; only touched batch docs pay the
    rebuild."""
    base, kg = _doc_kgrams(batch, text_col, id_col, k)
    return _span_cut(base, _gated_starts(spark, kg, table_prefix, id_col),
                     id_col, k)


def build_substring_index(
    spark,
    corpus: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_buckets: int = 16,
) -> None:
    """Persist the corpus's k-gram digest state so incoming batches
    get span-gated WITHOUT rescanning the corpus — the substring
    twin of :func:`build_minhash_index`:

    ``{prefix}_kgrams`` (dig, n_docs) — distinct-document count per
    k-gram digest — bucketed+sorted on ``dig`` behind the versioned
    view (``init_versioned``), so a batch's digest probe joins
    straight into co-located buckets with no Exchange on the state
    side.  n_docs (not mere presence) is stored so inserts FOLD
    exactly (new count = old + batch distinct docs per digest) and a
    future delete could decrement.  The O(corpus) shingle+count
    shuffle is paid once here; each batch gate costs
    O(batch k-grams + collisions)."""
    from legate_dataframe_spark.core.bucketing import init_versioned

    _, kg = _doc_kgrams(corpus, text_col, id_col, k)
    init_versioned(spark, _doc_counts(kg, id_col, "n_docs"),
                   f"{table_prefix}_kgrams", ["dig"],
                   num_buckets=num_buckets)


def batch_substring_spans(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Span coverage of BATCH documents against corpus ∪ batch, served
    off the persisted k-gram index: a batch k-gram is duplicated iff
    its digest exists in the index (some corpus document carries it)
    OR ≥2 distinct batch documents share it (intra-batch duplication
    — the class a corpus-only gate misses).  Output schema matches
    :func:`substring_dup_spans` restricted to the batch, and for a
    corpus-disjoint batch the numbers are IDENTICAL to the full
    recompute over corpus ∪ batch — the equivalence the driver
    oracle checks.

    Scale shape: the index side is read in place (bucketed on dig —
    the semi-join plans Exchange-free on the state side); only the
    batch's digest stream shuffles; the corpus is never rescanned."""
    base, kg = _doc_kgrams(batch, text_col, id_col, k)
    return _span_coverage(base, _gated_starts(spark, kg, table_prefix,
                                              id_col), id_col, k)


def insert_into_substring_index(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_buckets: int = 16,
) -> None:
    """Fold an admitted batch into the k-gram index: matched digests
    add the batch's distinct-doc count, new digests insert — the
    rollup-merge shape under the original ``dig`` bucket spec,
    written back through the catalog-atomic ``swap_versioned`` (one
    co-located pass over the index; the raw corpus is not
    consulted)."""
    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        swap_versioned,
    )

    _, kg = _doc_kgrams(batch, text_col, id_col, k)
    b = _doc_counts(kg, id_col, "b_docs").localCheckpoint(eager=True)
    name = f"{table_prefix}_kgrams"
    idx = read_bucketed(spark, name)
    merged = (idx.join(b, "dig", "left")
              .select("dig", (F.col("n_docs")
                              + F.coalesce("b_docs", F.lit(0)))
                      .cast("long").alias("n_docs")))
    inserts = (b.join(idx.select("dig"), "dig", "left_anti")
               .select("dig", F.col("b_docs").cast("long")
                       .alias("n_docs")))
    swap_versioned(spark, merged.unionByName(inserts), name, ["dig"],
                   num_buckets=num_buckets)


def append_substring_delta(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_buckets: int = 16,
) -> None:
    """O(batch) admit path for the k-gram index: append the batch's
    (dig, n_docs) PARTIAL rows into the live generation
    (bucket-spec-preserving ``append_versioned``) instead of
    rewriting the index.  Safe by the index's read contracts: the
    GATE (:func:`batch_substring_spans`) tests digest MEMBERSHIP
    (left-semi), which duplicate dig rows cannot change, and exact
    counts are mergeable partials (sum per dig).  The swap-based
    :func:`insert_into_substring_index` is the COMPACTION of this
    path — run it on the files-per-bucket signal, exactly like any
    other append-accreting state."""
    from legate_dataframe_spark.core.bucketing import append_versioned

    _, kg = _doc_kgrams(batch, text_col, id_col, k)
    append_versioned(spark,
                     _doc_counts(kg, id_col, "n_docs")
                     .repartition(num_buckets, "dig"),
                     f"{table_prefix}_kgrams", ["dig"],
                     num_buckets=num_buckets)
