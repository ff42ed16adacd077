"""Round-5 driver queries.

Each query here is a ``queries()`` entry with a DuckDB oracle in the
registry.  Focus of the round (VERDICT r04 "Next round"): driver rows
for the bucketed-storage surface (`core/bucketing.py` was only
plan-asserted in tests), incremental dedup against a persisted corpus
index, and widening the pipeline/OLAP surface.

Provenance note: the bucketed-storage queries are the persistent form
of the reference's hash repartitioning
(/root/reference/cpp/src/core/repartition_by_hash.cpp:61-143) — the
shuffle is paid once at ``bucketBy`` write time and every later
equi-join/groupBy on the bucket key reads co-located buckets with no
Exchange in the plan.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legate_dataframe_spark.plans.relational import load_table
from legate_dataframe_spark.plans.round10b import _plan_of


# ======================================================= bucketed storage
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join off BUCKETED storage, end to end:
    bucketBy-write orders and lineitem on the join key into a
    session-temp database, join them back, and roll revenue up by
    order year.

    The query PINS the plan property it exists for: after the
    bucketed write, the join must contain no shuffle Exchange on
    either side (SortMergeJoin straight off the bucketed scans) — at
    100 TB this is the difference between re-shuffling both fact
    tables per query and paying the partitioning once at ingest.
    Broadcast is disabled (and restored) around the join so the small
    sf0.01 gate data produces the same SMJ plan as the full-scale run.

    The result is materialized eagerly and the temp database dropped
    before returning (roundtrip.py convention — no lazy /tmp escape).
    """
    from legate_dataframe_spark.core.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")

    # uuid suffix (ADVICE r05): concurrent runs sharing a warehouse
    # must not clobber each other's catalog entries
    db = f"ldf_r5_bucketed_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="ldf_r5_bucketdb_")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(o, f"{db}.orders_b", ["o_orderkey"],
                       num_buckets=16)
        write_bucketed(li, f"{db}.lineitem_b", ["l_orderkey"],
                       num_buckets=16)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lb = read_bucketed(spark, f"{db}.lineitem_b")
        ob = read_bucketed(spark, f"{db}.orders_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey, "inner")
        plan = _plan_of(joined, "simple")
        if "SortMergeJoin" not in plan or "Exchange" in plan:
            raise AssertionError(
                "bucketed join planned a shuffle — bucket metadata "
                f"was not used:\n{plan}")
        out = (joined
               .groupBy(F.year("o_orderdate").cast("long").alias("o_year"),
                        "o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n_lines"),
                    F.round(F.sum(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"),
                    F.min("o_orderkey").alias("min_orderkey"),
                    F.max("o_orderkey").alias("max_orderkey"))
               .localCheckpoint(eager=True))
        return out
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


BUCKETED_JOIN_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED corpus
    index — the production pipeline capability VERDICT r04 flagged as
    the one with no operator yet.

    Split: docs with doc_id % 10 != 0 are the standing corpus, the
    rest are "today's batch".  The corpus's LSH band table and
    shingle store are bucketBy-written once
    (pipeline/dedup.py::build_minhash_index); the batch then dedups
    against the index with the corpus never rescanned — only the
    batch's band rows shuffle, into the index's bucket layout.

    The oracle states batch-over-union equivalence: the cross
    (corpus, batch) pairs of the ONE-SHOT banded LSH over all
    documents are exactly what the incremental path finds.
    """
    from legate_dataframe_spark.pipeline.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    db = f"ldf_r5_dedup_idx_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="ldf_r5_dedupdb_")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        build_minhash_index(spark, corpus, f"{db}.corpus")
        out = incremental_minhash_dedup(spark, batch, f"{db}.corpus")
        plan = _plan_of(out, "formatted")
        if "Bucketed: true" not in plan:
            raise AssertionError(
                "incremental dedup did not read the band index "
                f"bucket-aware:\n{plan}")
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


def _incremental_dedup_sql() -> str:
    from legate_dataframe_spark.plans.pipeline_queries import _lsh_cand_ctes

    return "WITH " + _lsh_cand_ctes() + """,
cross_pairs AS (
  SELECT CASE WHEN id_a % 10 != 0 THEN id_a ELSE id_b END AS corpus_id,
         CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS batch_id
  FROM cand
  WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)),
v AS (
  SELECT p.corpus_id, p.batch_id,
         list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb
  FROM cross_pairs p
  JOIN shg a ON a.id = p.corpus_id
  JOIN shg b ON b.id = p.batch_id)
SELECT corpus_id, batch_id, jaccard FROM (
  SELECT corpus_id, batch_id,
         round(len(list_intersect(sa, sb))
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
           AS jaccard
  FROM v)
WHERE jaccard >= 0.5
"""


INCREMENTAL_DEDUP_SQL = _incremental_dedup_sql()
