"""The one Bloom format (core/manifest.py): every writer produces the
same bits for the same keys, every prober finds them, and parameters
outside the contract are refused before any Spark work."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from legate_dataframe_spark.core import manifest as mf
from legate_dataframe_spark.pipeline import dedup
from legate_dataframe_spark.pipeline.takedown import (
    export_certified_shards,
    read_export_sidecar,
    takedown_from_export,
)


def _overlap(spark, tmp_path, m_bits, n_hashes):
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three five")],
        "doc_id long, text string")
    return dedup.bloom_cross_corpus_overlap(
        docs, docs, shingle_k=3, min_shared=1, m_bits=m_bits,
        n_hashes=n_hashes)


def _bitmap(spark, tmp_path, m_bits, n_hashes):
    return dedup.bloom_bitmap(spark.range(3).select(F.col("id").alias("dig")),
                              m_bits=m_bits, n_hashes=n_hashes)


def _manifest(spark, tmp_path, m_bits, n_hashes):
    # the table does not exist: a check that ran after the first
    # catalog or file access would raise AnalysisException instead
    return mf.write_manifest(spark, "no_such_db.no_such_table",
                             bloom_col="k", bloom_bits=m_bits,
                             bloom_hashes=n_hashes)


def _export(spark, tmp_path, m_bits, n_hashes):
    out = str(tmp_path / "export")
    try:
        return export_certified_shards(
            spark, spark.range(3).select(F.col("id").alias("doc_id")), out,
            max_records_per_file=10, bloom_col="doc_id",
            bloom_bits=m_bits, bloom_hashes=n_hashes)
    finally:
        assert not os.path.exists(out)  # refused before the write


@pytest.mark.parametrize("m_bits, n_hashes",
                         [(0, 3), (-64, 3), (96, 3), (64, 0)])
@pytest.mark.parametrize("writer", [_overlap, _bitmap, _manifest, _export],
                         ids=["bloom_cross_corpus_overlap", "bloom_bitmap",
                              "write_manifest", "export_certified_shards"])
def test_bloom_params_outside_contract_raise(spark, tmp_path, writer,
                                             m_bits, n_hashes):
    with pytest.raises(ValueError, match="Bloom parameters"):
        writer(spark, tmp_path, m_bits, n_hashes)


def test_bloom_writers_are_bit_identical(spark, tmp_path):
    """bloom_bitmap, a manifest's per-file bloom and an export
    sidecar's bloom over the same keys are the same words, and both
    persisted forms probe every key back."""
    bits, hashes = 1 << 12, 3
    keys = spark.range(0, 3000, 7).select(F.col("id").alias("k"))
    n = keys.count()
    bitmap = dedup.bloom_bitmap(keys, dig_col="k", m_bits=bits,
                                n_hashes=hashes).collect()[0]["bloom"]
    assert len(bitmap) == bits // 64 and any(bitmap)

    spark.sql("CREATE DATABASE IF NOT EXISTS tbf "
              f"LOCATION '{tmp_path}/db'")
    try:
        t = "tbf.t"
        (keys.coalesce(1).write.format("parquet").bucketBy(1, "k")
         .saveAsTable(t))
        mf.write_manifest(spark, t, generation=0, bloom_col="k",
                          bloom_bits=bits, bloom_hashes=hashes)
        man = spark.table(mf.manifest_table(t)).collect()
        assert [list(r["bloom"]) for r in man] == [list(bitmap)]
        found = mf.point_lookup_candidates(spark, t, keys, "k",
                                           num_buckets=1)
        assert found.select("k").distinct().count() == n
    finally:
        spark.sql("DROP DATABASE IF EXISTS tbf CASCADE")

    out = str(tmp_path / "export")
    export_certified_shards(spark, keys.toDF("doc_id").coalesce(1), out,
                            max_records_per_file=10 * n,
                            bloom_col="doc_id", bloom_bits=bits,
                            bloom_hashes=hashes)
    side = read_export_sidecar(spark, out).collect()
    assert [list(r["bloom"]) for r in side] == [list(bitmap)]
    res = takedown_from_export(spark, out,
                               [r["k"] for r in keys.collect()])
    assert res["candidates"] == [side[0]["file"]]
    assert res["rows_removed"] == n
