"""The engine session keeps Spark's compiled whole-stage classes resident.

Spark's default codegen class cache holds 100 entries, fewer than one
pass of the corpus registry ops compiles, so with the default a repeat
pass evicts and recompiles 200-300 classes.  With the engine's cache
size the repeat pass finds its classes already compiled.
"""

from __future__ import annotations

from legate_dataframe_spark.plans.registry import QUERIES
from legate_dataframe_spark.session import _DEFAULTS

CORPUS_OPS = ["dedup_exact", "dedup_minhash", "dedup_ngram",
              "substring_span_removal", "clean_corpus_onepass",
              "ngram_dup_counts", "pipeline_end_to_end"]

_KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get(_KEY) == _DEFAULTS[_KEY]


def test_repeat_corpus_pass_does_not_recompile(spark, sf_dir):
    """AQE is off for the two passes: it re-plans as shuffle stages
    finish, so with AQE the plan a query ends with depends on stage
    timing, and a repeat pass can meet plan variants (new classes) the
    first pass never compiled.  That would count compiles the cache
    size cannot prevent."""
    def run_pass():
        for q in CORPUS_OPS:
            QUERIES[q](spark, sf_dir).toPandas()

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_pass()
        before = _compiles(spark)
        run_pass()
        added = _compiles(spark) - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert added <= 10, f"repeat pass compiled {added} classes"
