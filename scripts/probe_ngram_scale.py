#!/usr/bin/env python
"""Scale probe for exact n-gram Jaccard (``ngram_jaccard_pairs``) as
BLOCK SIZE grows.

Corpus = sf0.1 documents replicated R = 1, 2, 4 times with fresh
doc_ids and the SAME (source, lang) blocks: block sizes grow R-fold
and shared-shingle co-occurrences ~R²-fold on duplicated shingles.
The replicas are near-identical docs, so the output is huge — the
probe prices the candidate generator, not the answer.
OPTIMIZATION_r14.md §1 has its numbers against the all-pairs form.

Run from repo root:  python scripts/probe_ngram_scale.py
(env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from legate_dataframe_spark.core.caching import release_caches  # noqa: E402
from legate_dataframe_spark.pipeline.dedup import (  # noqa: E402
    ngram_jaccard_pairs,
)
from legate_dataframe_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(app_name="probe-ngram-scale",
                        master=f"local[{cpus}]")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    nmax = docs.agg(F.max("doc_id")).collect()[0][0] + 1

    for r in (1, 2, 4):
        rep = spark.range(r).select(F.col("id").alias("__r"))
        corpus = (docs.crossJoin(rep)
                  .select((F.col("doc_id") + F.col("__r") * nmax)
                          .alias("doc_id"), "source", "lang", "text")
                  .localCheckpoint(eager=True))
        df = ngram_jaccard_pairs(corpus, ["source", "lang"], threshold=0.3)
        agg = df.groupBy().agg(F.count(F.lit(1)), F.sum("jaccard"))
        spark.sparkContext.setJobDescription(f"ngram:inverted@x{r}")
        t0 = time.perf_counter()
        row = agg.collect()[0]
        dt = time.perf_counter() - t0
        print(f"x{r} inverted: {dt:.2f}s pairs={row[0]}", flush=True)
        release_caches()
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
