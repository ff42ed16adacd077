"""Round-13 queries — the span family composes (one shingle pass,
every cut) and gains its BPE instantiation.

- ``clean_corpus_onepass`` — benchmark decontamination + cross-doc
  dedup + intra-doc repetition removal off ONE positional shingle
  exchange (VERDICT r12 task 1): the corpus build a 100 TB
  pre-training run actually executes, with per-predicate coverage
  attribution and an in-plan assertion that the shingle stream
  crosses the wire exactly once.

- ``substring_span_removal_bpe`` — duplicated ≥50-BPE-token span
  removal over a vocabulary learned in-query (VERDICT r12 task 2):
  Lee et al.'s actual configuration (arXiv:2107.06499 cut at 50 BPE
  tokens), completing the span family's tokenizer contract
  (whitespace / identity-char / BPE all instantiate the same three
  stages: position stream, k-gram digest, rebuild by kept
  positions).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.pipeline_queries import (
    BPE_MERGES_SQL,
)
from legate_dataframe_spark.plans.relational import load_table

_BPE_K = 50  # Lee et al. cut duplicated spans at 50 BPE tokens


# ========= the composed corpus build: one shingle pass, every cut
def clean_corpus_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training corpus build: documents split into
    TRAIN (doc_id % 10 != 7) and BENCHMARK (doc_id % 10 == 7)
    suites; every train position covered by a benchmark 8-gram, a
    cross-document duplicated 8-gram, or an intra-document repeated
    8-gram is cut in ONE pass — `pipeline/dedup.py clean_corpus`,
    whose docstring defines the simultaneous-union composition
    semantics (order-independent; evaluates every predicate against
    the ORIGINAL corpus; the only composition computable off a
    single shingle exchange).

    In-plan assertion: the physical plan of the per-(doc, digest)
    occurrence aggregate — the ONLY operator the positional shingle
    stream feeds — contains exactly ONE Exchange, and it is
    checkpointed so all three predicates read it without recompute;
    the sequential chain pays this exchange three times
    (`_doc_kgrams` re-runs in remove_contaminated_spans,
    remove_dup_spans, remove_repeated_spans).

    In-query laws asserted: removed + kept == n_tokens; token count
    of text_clean == kept_tokens; and the attribution sandwich
    max(cov_*) <= removed_tokens <= cov_benchmark + cov_crossdoc +
    cov_intradoc on every row (each cov_* counts positions covered
    by that predicate alone; overlaps count in each).  Oracle: the
    identical union-of-covers construction in DuckDB, hash covering
    the cleaned text and all three attribution columns."""
    from legate_dataframe_spark.pipeline.dedup import clean_corpus

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 != 7)
    test = d.filter(F.col("doc_id") % 10 == 7)
    out, occ_plan = clean_corpus(train, test, k=8,
                                 return_occ_plan=True)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", occ_plan,
                                 re.M))
    if n_exchanges != 1:
        raise AssertionError(
            f"the shingle occurrence aggregate must pay exactly one "
            f"exchange, plan shows {n_exchanges}:\n{occ_plan}")
    out = out.localCheckpoint(eager=True)
    bad = out.filter(
        (F.col("removed_tokens") + F.col("kept_tokens")
         != F.col("n_tokens"))
        | ~((F.col("kept_tokens") == 0) & (F.col("text_clean") == "")
            | (F.size(F.split(F.col("text_clean"), " "))
               == F.col("kept_tokens")))
        | (F.col("removed_tokens") > F.col("cov_benchmark")
           + F.col("cov_crossdoc") + F.col("cov_intradoc"))
        | (F.col("removed_tokens") < F.greatest(
            "cov_benchmark", "cov_crossdoc", "cov_intradoc"))
    ).count()
    if bad:
        raise AssertionError(
            f"{bad} row(s) break the composed-cut accounting laws")
    return out


CLEAN_CORPUS_ONEPASS_SQL = r"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
tr AS (SELECT * FROM tokens WHERE doc_id % 10 <> 7),
te AS (SELECT * FROM tokens WHERE doc_id % 10 = 7),
kg AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM tr, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
tdig AS (
  SELECT DISTINCT md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM te, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
xdig AS (SELECT dig FROM kg GROUP BY dig
         HAVING count(DISTINCT doc_id) > 1),
bcov AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN tdig USING (dig),
       unnest(generate_series(0, 7)) AS o(off)),
ccov AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN xdig USING (dig),
       unnest(generate_series(0, 7)) AS o(off)),
rep AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, min(pos) OVER (PARTITION BY doc_id, dig) AS fp
    FROM kg) WHERE pos > fp),
icov AS (
  SELECT DISTINCT r.doc_id, r.pos + o.off AS t
  FROM rep r, unnest(generate_series(0, 7)) AS o(off)),
ucov AS (
  SELECT doc_id, t FROM bcov UNION
  SELECT doc_id, t FROM ccov UNION
  SELECT doc_id, t FROM icov),
ucnt AS (SELECT doc_id, count(*) AS removed FROM ucov GROUP BY doc_id),
bcnt AS (SELECT doc_id, count(*) AS cb FROM bcov GROUP BY doc_id),
ccnt AS (SELECT doc_id, count(*) AS cc FROM ccov GROUP BY doc_id),
icnt AS (SELECT doc_id, count(*) AS ci FROM icov GROUP BY doc_id),
tok AS (
  SELECT doc_id, i AS pos, ts[i] AS tok
  FROM tr, unnest(generate_series(1, len(ts))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN ucov c ON c.doc_id = t.doc_id AND c.t = t.pos
  WHERE c.doc_id IS NULL),
clean AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(u.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(t.ts) - coalesce(u.removed, 0) AS BIGINT)
         AS kept_tokens,
       round(coalesce(u.removed, 0) / len(t.ts), 6) AS dup_ratio,
       CAST(coalesce(b.cb, 0) AS BIGINT) AS cov_benchmark,
       CAST(coalesce(c2.cc, 0) AS BIGINT) AS cov_crossdoc,
       CAST(coalesce(i2.ci, 0) AS BIGINT) AS cov_intradoc,
       coalesce(clean.text_clean, '') AS text_clean
FROM tr t
LEFT JOIN ucnt u USING (doc_id)
LEFT JOIN bcnt b USING (doc_id)
LEFT JOIN ccnt c2 USING (doc_id)
LEFT JOIN icnt i2 USING (doc_id)
LEFT JOIN clean USING (doc_id)
"""


# ====== BPE-token span removal (the tokenizer contract, instantiated)
def substring_span_removal_bpe(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Duplicated-span removal over BPE TOKEN streams — Lee et al.'s
    actual configuration: learn a merge vocabulary from the corpus
    (8 merges, the `bpe_merges` construction), encode every document
    to its BPE token stream, and cut every ≥50-BPE-token run that
    appears verbatim in another document.  The stream is rendered as
    a space-joined string (BPE symbols are ``[a-z]+`` pieces, so the
    join is lossless), which makes `remove_dup_spans` — unchanged —
    the BPE-token cut: the span family's tokenizer contract
    (position stream → per-position digest → rebuild by kept
    positions) instantiated with a LEARNED vocabulary, alongside the
    ``\\s+`` and identity-char instantiations.

    Output columns are the span family's schema over the token
    stream: n_tokens counts BPE tokens, text_clean is the cleaned
    space-joined token stream (the artifact a training pipeline
    packs into sequences).  In-query laws asserted: removed + kept
    == n_tokens and token count of text_clean == kept_tokens.
    Oracle: DuckDB learns the SAME merge table (the `bpe_merges`
    SQL-unrolled rounds), encodes with the same nested replaces,
    then applies the identical k=50 span construction — hash covers
    the cleaned token stream.

    Scale shape: encode is a pure narrow map (merge table = one
    broadcast row); the cut is the standard span plan, with the
    large-k digest built by hashing 50-token SLICES of the token
    array per position (O(k·n), no 50-word shingle strings — the
    zip_with chain would do O(k²·n) character work; measured 23×
    at sf0.01)."""
    from legate_dataframe_spark.pipeline import bpe
    from legate_dataframe_spark.pipeline.dedup import remove_dup_spans

    d = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges(bpe.word_histogram(d), n_merges=8)
    stream = bpe.bpe_token_stream(d, merges).localCheckpoint(
        eager=True)
    out = remove_dup_spans(stream, k=_BPE_K).localCheckpoint(
        eager=True)
    bad = out.filter(
        (F.col("removed_tokens") + F.col("kept_tokens")
         != F.col("n_tokens"))
        | ~((F.col("kept_tokens") == 0) & (F.col("text_clean") == "")
            | (F.size(F.split(F.col("text_clean"), " "))
               == F.col("kept_tokens")))).count()
    if bad:
        raise AssertionError(
            f"{bad} row(s) break the BPE span-removal accounting")
    return out


def _bpe_span_oracle_sql(n_merges: int, k: int) -> str:
    """The bpe_merges WITH-chain (w0..t{n}) + per-doc encoding to
    token streams + the standard crossdoc span cut at BPE-token
    granularity, all in one DuckDB statement.

    ``streams`` is MATERIALIZED: that changes how DuckDB evaluates it,
    not what it returns.  Inlined, the BPE encoding re-ran under each
    of its three readers and inside the kept-token join (76–150 s vs
    about 4 s at sf0.001)."""
    enc = r"regexp_replace(w, '(.)', '<\1>', 'g')"
    for i in range(1, n_merges + 1):
        enc = (f"replace({enc}, '<' || t{i}.a || '><' || t{i}.b || "
               f"'>', '<' || t{i}.a || t{i}.b || '>')")
    with_chain = BPE_MERGES_SQL[:BPE_MERGES_SQL.rindex("\nSELECT")]
    with_chain = "WITH " + with_chain.split("WITH ", 1)[1]
    with_chain = with_chain[:with_chain.rindex(")") + 1]
    tlist = ", ".join(f"t{i}" for i in range(1, n_merges + 1))
    km = k - 1
    return f"""{with_chain},
streams AS MATERIALIZED (
  SELECT doc_id,
         flatten(list_transform(
           regexp_extract_all(lower(text), '[a-z]+'),
           w -> string_split(trim({enc}, '<>'), '><'))) AS ts
  FROM documents, {tlist}),
kg AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(ts[i:i+{km}], ' ')) AS dig
  FROM streams,
       unnest(generate_series(1, greatest(len(ts)-{km}, 0))) AS u(i)),
dup AS (SELECT dig FROM kg GROUP BY dig
        HAVING count(DISTINCT doc_id) > 1),
cover AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN dup USING (dig),
       unnest(generate_series(0, {km})) AS o(off)),
tok AS (
  SELECT doc_id, i AS pos, ts[i] AS tok
  FROM streams, unnest(generate_series(1, len(ts))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN cover c ON c.doc_id = t.doc_id AND c.t = t.pos
  WHERE c.doc_id IS NULL),
clean AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id),
cov AS (SELECT doc_id, count(*) AS removed FROM cover GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(cov.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(s.ts) - coalesce(cov.removed, 0) AS BIGINT)
         AS kept_tokens,
       round(coalesce(cov.removed, 0) / len(s.ts), 6) AS dup_ratio,
       coalesce(clean.text_clean, '') AS text_clean
FROM streams s
LEFT JOIN cov USING (doc_id)
LEFT JOIN clean USING (doc_id)
"""


SUBSTRING_SPAN_REMOVAL_BPE_SQL = _bpe_span_oracle_sql(8, _BPE_K)


# ====== the composed build as an ingest step (index-gated)
def incremental_clean_corpus(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The composed corpus build at INGEST time: benchmark suite =
    doc_id % 10 == 7, admitted corpus = the rest except % 10 == 0,
    arriving batch = % 10 == 0.  The corpus's k-gram digest state is
    paid once (`build_substring_index`); the batch then takes ALL
    THREE cuts — decontamination, cross-doc vs corpus ∪ batch,
    intra-doc — off its own shingle pass plus one index probe, with
    the index read IN PLACE (``Bucketed: true`` asserted with
    broadcast and auto-bucketed-scan rewriting disabled).

    The equivalence is unconditional (see clean_corpus_batch): the
    index records ≥1 admitted document per digest and the batch
    occurrence supplies the second, so the oracle is the FULL
    simultaneous-union recompute over every non-benchmark document,
    restricted to the batch.  In-query laws: the attribution
    sandwich and accounting identities, as in clean_corpus_onepass.
    """
    from legate_dataframe_spark.pipeline.dedup import (
        build_substring_index,
        clean_corpus_batch,
    )
    from legate_dataframe_spark.plans.round10b import (
        _plan_of,
        _temp_db,
    )

    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 7)
    corpus = d.filter((F.col("doc_id") % 10 != 7)
                      & (F.col("doc_id") % 10 != 0))
    batch = d.filter(F.col("doc_id") % 10 == 0)
    with _temp_db(spark, "ldf_r13_cleaninc") as db:
        idx = f"{db}.idx"
        build_substring_index(spark, corpus, idx, k=8)
        prev_bc = spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold")
        prev_abs = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        try:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan"
                ".enabled", "false")
            out = clean_corpus_batch(spark, batch, test, idx, k=8)
            plan = _plan_of(out)
            if "Bucketed: true" not in plan:
                raise AssertionError(
                    "composed ingest gate did not read the k-gram "
                    "index bucket-aware:\n" + plan)
            out = out.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           prev_bc)
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan"
                ".enabled", prev_abs)
    bad = out.filter(
        (F.col("removed_tokens") + F.col("kept_tokens")
         != F.col("n_tokens"))
        | ~((F.col("kept_tokens") == 0) & (F.col("text_clean") == "")
            | (F.size(F.split(F.col("text_clean"), " "))
               == F.col("kept_tokens")))
        | (F.col("removed_tokens") > F.col("cov_benchmark")
           + F.col("cov_crossdoc") + F.col("cov_intradoc"))
        | (F.col("removed_tokens") < F.greatest(
            "cov_benchmark", "cov_crossdoc", "cov_intradoc"))
    ).count()
    if bad:
        raise AssertionError(
            f"{bad} row(s) break the composed ingest-cut laws")
    return out


INCREMENTAL_CLEAN_CORPUS_SQL = (
    f"SELECT * FROM ({CLEAN_CORPUS_ONEPASS_SQL}) "
    f"WHERE doc_id % 10 = 0")


# ====== the composed build as a CLOSED streaming loop
def stream_clean_corpus_chain(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The composed corpus build run as a STREAM — the clean-corpus
    twin of ``stream_substring_chain``: three staged micro-batches
    each take all three cuts (benchmark decontamination, cross-doc
    vs corpus ∪ earlier batches off the persisted k-gram index,
    intra-doc keep-first) via :func:`clean_corpus_batch`, then are
    ADMITTED through the O(batch) delta append — so duplicates
    arriving WITHIN the stream are cut too, with stage-ordered
    semantics: batch i's cross-doc predicate sees corpus ∪ batches
    < i plus ≥2-doc sharing inside batch i itself, never later
    batches (the gate ran before they arrived).

    Exactly-once rig and the exact-fold law follow the r07/r10b
    chains: batch_id done-markers, per-batch overwrite dirs,
    per-trigger relation-cache refresh, and after the drain the
    folded index counts must equal a fresh build over corpus ∪ all
    admitted batches.  Oracle: the stage-ordered union-of-covers in
    SQL — corpus is stage −1, a batch k-gram is cross-covered iff
    its digest occurs at a LOWER stage or ≥2 distinct docs share it
    at the SAME stage; benchmark and intra-doc covers are
    stage-independent."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile
    import time as _time

    from legate_dataframe_spark.core.bucketing import (
        current_generation_table,
    )
    from legate_dataframe_spark.pipeline.dedup import (
        _doc_kgrams,
        append_substring_delta,
        build_substring_index,
        clean_corpus_batch,
    )
    from legate_dataframe_spark.plans.round4 import _stage_single_file
    from legate_dataframe_spark.plans.round10b import _temp_db

    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 7)
    corpus = d.filter((F.col("doc_id") % 10 != 7)
                      & (F.col("doc_id") % 10 != 0))
    todays = d.filter(F.col("doc_id") % 10 == 0)
    with _temp_db(spark, "ldf_r13_ccchain") as db:
        idx = f"{db}.idx"
        build_substring_index(spark, corpus, idx, k=8)
        stage = tempfile.mkdtemp(prefix="ldf_r13_ccchain_stage_")
        outdir = tempfile.mkdtemp(prefix="ldf_r13_ccchain_out_")
        ck = tempfile.mkdtemp(prefix="ldf_r13_ccchain_ck_")
        try:
            now = _time.time()
            for i in range(3):
                _stage_single_file(
                    todays.filter(
                        F.floor(F.col("doc_id") / 10) % 3 == i),
                    stage, f"b{i}.parquet", now - 300 + i * 100)
            stream = (spark.readStream.schema(todays.schema)
                      .option("maxFilesPerTrigger", 1).parquet(stage))

            def gate_and_admit(batch_df: DataFrame,
                               batch_id: int) -> None:
                done = _os.path.join(ck, f"ldf_batch_{batch_id}.done")
                if _os.path.exists(done):
                    return
                sess = batch_df.sparkSession
                sess.catalog.refreshTable(
                    current_generation_table(sess, f"{idx}_kgrams"))
                bench = (load_table(sess, sf_dir, "documents")
                         .filter(F.col("doc_id") % 10 == 7))
                frozen = batch_df.localCheckpoint(eager=True)
                (clean_corpus_batch(sess, frozen, bench, idx, k=8)
                 .write.mode("overwrite")
                 .parquet(_os.path.join(outdir, f"b{batch_id}")))
                append_substring_delta(sess, frozen, idx, k=8)
                open(done, "w").close()

            q = (stream.writeStream.outputMode("append")
                 .foreachBatch(gate_and_admit)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            finished = q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            if not finished:
                q.stop()
                raise TimeoutError(
                    "stream_clean_corpus_chain drain > 300s")
            parts = sorted(_glob.glob(f"{outdir}/b*"))
            if len(parts) != 3:
                raise AssertionError(
                    f"expected 3 drained batches, saw {parts}")
            # exact-fold law: aggregated index counts == fresh build
            # over every non-benchmark document
            spark.catalog.refreshTable(
                current_generation_table(spark, f"{idx}_kgrams"))
            folded = (spark.table(f"{idx}_kgrams")
                      .groupBy("dig")
                      .agg(F.sum("n_docs").cast("long")
                           .alias("n_docs")))
            _, kg_all = _doc_kgrams(
                d.filter(F.col("doc_id") % 10 != 7),
                "text", "doc_id", 8)
            fresh = (kg_all.select("dig", "doc_id").distinct()
                     .groupBy("dig")
                     .agg(F.count(F.lit(1)).cast("long")
                          .alias("n_docs")))
            # one evaluation of each side (fresh is a corpus-sized
            # digest build — the two-exceptAll form ran it twice)
            from legate_dataframe_spark.plans.round10b import (
                bag_diff_counts,
            )
            a, b = bag_diff_counts(folded, fresh)
            if a or b:
                raise AssertionError(
                    "streamed delta folds drifted from a fresh build")
            out = spark.read.parquet(*parts).localCheckpoint(
                eager=True)
            bad = out.filter(
                (F.col("removed_tokens") + F.col("kept_tokens")
                 != F.col("n_tokens"))
                | (F.col("removed_tokens") > F.col("cov_benchmark")
                   + F.col("cov_crossdoc") + F.col("cov_intradoc"))
                | (F.col("removed_tokens") < F.greatest(
                    "cov_benchmark", "cov_crossdoc", "cov_intradoc"))
            ).count()
            if bad:
                raise AssertionError(
                    f"{bad} row(s) break the streamed composed-cut "
                    f"laws")
            return out
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(outdir, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


STREAM_CLEAN_CORPUS_CHAIN_SQL = r"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
te AS (SELECT * FROM tokens WHERE doc_id % 10 = 7),
tr AS (
  SELECT doc_id, ts,
         CASE WHEN doc_id % 10 = 0
              THEN CAST(floor(doc_id / 10) % 3 AS INT)
              ELSE -1 END AS stage
  FROM tokens WHERE doc_id % 10 <> 7),
kg AS (
  SELECT doc_id, stage, i AS pos,
         md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM tr, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
tdig AS (
  SELECT DISTINCT md5(array_to_string(ts[i:i+7], ' ')) AS dig
  FROM te, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
digstage AS (
  SELECT dig, stage, count(DISTINCT doc_id) AS nd
  FROM kg GROUP BY dig, stage),
bk AS (SELECT doc_id, stage, pos, dig FROM kg WHERE stage >= 0),
bstart AS (SELECT bk.doc_id, bk.pos FROM bk JOIN tdig USING (dig)),
cstart AS (
  SELECT DISTINCT bk.doc_id, bk.pos
  FROM bk JOIN digstage ds ON bk.dig = ds.dig
  WHERE ds.stage < bk.stage
     OR (ds.stage = bk.stage AND ds.nd > 1)),
rep AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(pos) OVER (PARTITION BY doc_id, dig) AS fp
    FROM bk) WHERE pos > fp),
bcov AS (
  SELECT DISTINCT s.doc_id, s.pos + o.off AS t
  FROM bstart s, unnest(generate_series(0, 7)) AS o(off)),
ccov AS (
  SELECT DISTINCT s.doc_id, s.pos + o.off AS t
  FROM cstart s, unnest(generate_series(0, 7)) AS o(off)),
icov AS (
  SELECT DISTINCT r.doc_id, r.pos + o.off AS t
  FROM rep r, unnest(generate_series(0, 7)) AS o(off)),
ucov AS (
  SELECT doc_id, t FROM bcov UNION
  SELECT doc_id, t FROM ccov UNION
  SELECT doc_id, t FROM icov),
ucnt AS (SELECT doc_id, count(*) AS removed FROM ucov GROUP BY doc_id),
bcnt AS (SELECT doc_id, count(*) AS cb FROM bcov GROUP BY doc_id),
ccnt AS (SELECT doc_id, count(*) AS cc FROM ccov GROUP BY doc_id),
icnt AS (SELECT doc_id, count(*) AS ci FROM icov GROUP BY doc_id),
batch AS (SELECT doc_id, ts FROM tr WHERE stage >= 0),
tok AS (
  SELECT doc_id, i AS pos, ts[i] AS tok
  FROM batch, unnest(generate_series(1, len(ts))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN ucov c ON c.doc_id = t.doc_id AND c.t = t.pos
  WHERE c.doc_id IS NULL),
clean AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       CAST(len(b.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(u.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(b.ts) - coalesce(u.removed, 0) AS BIGINT)
         AS kept_tokens,
       round(coalesce(u.removed, 0) / len(b.ts), 6) AS dup_ratio,
       CAST(coalesce(bc.cb, 0) AS BIGINT) AS cov_benchmark,
       CAST(coalesce(cc2.cc, 0) AS BIGINT) AS cov_crossdoc,
       CAST(coalesce(ic.ci, 0) AS BIGINT) AS cov_intradoc,
       coalesce(clean.text_clean, '') AS text_clean
FROM batch b
LEFT JOIN ucnt u USING (doc_id)
LEFT JOIN bcnt bc USING (doc_id)
LEFT JOIN ccnt cc2 USING (doc_id)
LEFT JOIN icnt ic USING (doc_id)
LEFT JOIN clean USING (doc_id)
"""


# ====== the composed build, byte-preserving (raw) rewrite
def clean_corpus_raw_onepass(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The composed cut with the BYTE-PRESERVING rewrite — the
    artifact a production pipeline ships (the normalized form
    destroys case and inner whitespace; Lee et al.'s tool cuts raw
    bytes).  Same train/benchmark split and simultaneous-union
    semantics as ``clean_corpus_onepass``; detection is
    case-insensitive, the rebuild keeps every original byte of the
    kept runs and collapses each cut to one space.

    In-query laws: the accounting identities and attribution
    sandwich, PLUS the raw↔normalized RECONCILIATION law (the r11
    single-cut convention, now on the composed cut): lowercasing and
    whitespace-collapsing ``text_clean_raw`` must reproduce
    ``clean_corpus``'s ``text_clean`` doc for doc, with identical
    removed/kept accounting — the two rebuilds are independent
    implementations over the same cover, so a positional slip in
    either flips this immediately.  (The audit runs the composed
    cover twice by design — same convention and cost class as
    ``substring_span_removal_raw``.)  Oracle: the separator-aware
    ordered rebuild with the union cover in DuckDB, hash covering
    the raw text and all three attribution columns."""
    from legate_dataframe_spark.pipeline.dedup import (
        clean_corpus,
        clean_corpus_raw,
    )

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 != 7)
    test = d.filter(F.col("doc_id") % 10 == 7)
    out = clean_corpus_raw(train, test, k=8).localCheckpoint(
        eager=True)
    bad = out.filter(
        (F.col("removed_tokens") + F.col("kept_tokens")
         != F.col("n_tokens"))
        | (F.col("removed_tokens") > F.col("cov_benchmark")
           + F.col("cov_crossdoc") + F.col("cov_intradoc"))
        | (F.col("removed_tokens") < F.greatest(
            "cov_benchmark", "cov_crossdoc", "cov_intradoc"))
    ).count()
    if bad:
        raise AssertionError(
            f"{bad} row(s) break the raw composed-cut accounting")
    # raw <-> normalized reconciliation over the composed cover
    norm_of_raw = out.select(
        "doc_id", "removed_tokens",
        F.array_join(F.split(F.trim(F.lower("text_clean_raw")),
                             r"\s+"), " ").alias("norm"))
    normalized = clean_corpus(train, test, k=8).select(
        "doc_id", F.col("removed_tokens").alias("removed_n"),
        "text_clean")
    drift = (norm_of_raw.join(normalized, "doc_id")
             .filter((F.col("norm") != F.col("text_clean"))
                     | (F.col("removed_tokens")
                        != F.col("removed_n"))).count())
    if drift:
        raise AssertionError(
            f"{drift} doc(s) break the raw<->normalized "
            f"reconciliation law on the composed cut")
    return out


CLEAN_CORPUS_RAW_ONEPASS_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\S+') AS tr,
         regexp_extract_all(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS sp
  FROM documents),
btr AS (SELECT * FROM base WHERE doc_id % 10 <> 7),
bte AS (SELECT * FROM base WHERE doc_id % 10 = 7),
kg AS (
  SELECT doc_id, i AS pos,
         md5(lower(array_to_string(tr[i:i+7], ' '))) AS dig
  FROM btr, unnest(generate_series(1, greatest(len(tr)-7, 0))) AS u(i)),
tdig AS (
  SELECT DISTINCT md5(lower(array_to_string(tr[i:i+7], ' '))) AS dig
  FROM bte, unnest(generate_series(1, greatest(len(tr)-7, 0))) AS u(i)),
xdig AS (SELECT dig FROM kg GROUP BY dig
         HAVING count(DISTINCT doc_id) > 1),
bcov AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN tdig USING (dig),
       unnest(generate_series(0, 7)) AS o(off)),
ccov AS (
  SELECT DISTINCT kg.doc_id, kg.pos + o.off AS t
  FROM kg JOIN xdig USING (dig),
       unnest(generate_series(0, 7)) AS o(off)),
rep AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, min(pos) OVER (PARTITION BY doc_id, dig) AS fp
    FROM kg) WHERE pos > fp),
icov AS (
  SELECT DISTINCT r.doc_id, r.pos + o.off AS t
  FROM rep r, unnest(generate_series(0, 7)) AS o(off)),
ucov AS (
  SELECT doc_id, t FROM bcov UNION
  SELECT doc_id, t FROM ccov UNION
  SELECT doc_id, t FROM icov),
ucnt AS (SELECT doc_id, count(*) AS removed FROM ucov GROUP BY doc_id),
bcnt AS (SELECT doc_id, count(*) AS cb FROM bcov GROUP BY doc_id),
ccnt AS (SELECT doc_id, count(*) AS cc FROM ccov GROUP BY doc_id),
icnt AS (SELECT doc_id, count(*) AS ci FROM icov GROUP BY doc_id),
tok AS (
  SELECT b.doc_id, i AS pos, b.tr[i] AS tok
  FROM btr b, unnest(generate_series(1, len(b.tr))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN ucov c ON c.doc_id = t.doc_id AND c.t = t.pos
  WHERE c.doc_id IS NULL),
pieces AS (
  SELECT k.doc_id, k.pos,
         CASE
           WHEN lag(k.pos) OVER w IS NULL THEN k.tok
           WHEN lag(k.pos) OVER w = k.pos - 1
             THEN b.sp[k.pos - 1] || k.tok
           ELSE ' ' || k.tok
         END AS piece
  FROM kept k JOIN btr b USING (doc_id)
  WINDOW w AS (PARTITION BY k.doc_id ORDER BY k.pos)),
clean AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS text_clean_raw
  FROM pieces GROUP BY doc_id)
SELECT b.doc_id,
       CAST(len(b.tr) AS BIGINT) AS n_tokens,
       CAST(coalesce(u.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(b.tr) - coalesce(u.removed, 0) AS BIGINT)
         AS kept_tokens,
       CASE WHEN len(b.tr) = 0 THEN 0.0
            ELSE round(coalesce(u.removed, 0) / len(b.tr), 6)
       END AS dup_ratio,
       CAST(coalesce(bc.cb, 0) AS BIGINT) AS cov_benchmark,
       CAST(coalesce(cc2.cc, 0) AS BIGINT) AS cov_crossdoc,
       CAST(coalesce(ic.ci, 0) AS BIGINT) AS cov_intradoc,
       coalesce(clean.text_clean_raw, '') AS text_clean_raw
FROM btr b
LEFT JOIN ucnt u USING (doc_id)
LEFT JOIN bcnt bc USING (doc_id)
LEFT JOIN ccnt cc2 USING (doc_id)
LEFT JOIN icnt ic USING (doc_id)
LEFT JOIN clean USING (doc_id)
"""
