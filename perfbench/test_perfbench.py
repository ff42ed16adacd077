"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The status-store test starts a small Spark session (about 15 s).
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import stats
from perfbench.harness import ROOT, RunDir, start_session, stop_session
from perfbench.tracing import (
    Recorder,
    StatusReader,
    layer_metrics,
    parse_metric,
    pass_cpu_seconds,
    union_seconds,
)
from perfbench.workloads import WORKLOADS


def _digests(workload: str, seed: int, tmp_path) -> dict[str, str]:
    d = tmp_path / f"{workload}-{seed}-{len(list(tmp_path.iterdir()))}"
    WORKLOADS[workload](seed, str(d)).generate()
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_inputs_depend_only_on_seed(workload, tmp_path):
    a = _digests(workload, 11, tmp_path)
    b = _digests(workload, 11, tmp_path)
    c = _digests(workload, 12, tmp_path)
    assert a and a == b
    assert a.keys() == c.keys()
    # every table that holds seeded rows differs (the five TPC-H regions
    # and 25 nations are fixed, as in TPC-H)
    fixed = {"region.parquet", "nation.parquet"}
    assert all(a[f] != c[f] for f in a if f not in fixed)


def test_corpus_plants_stated_shares(tmp_path):
    w = WORKLOADS["corpus_clean"](3, str(tmp_path))
    w.generate()
    n = w.n_docs
    from perfbench.inputs import CORPUS_SHARES

    for kind, share in CORPUS_SHARES.items():
        assert abs(w.planted[kind] / n - share) < 0.05, (kind, w.planted)


def test_percentile_and_median():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(xs) == 3.0
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 25) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize("n, want", [
    (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_needs_ten_samples_beyond(n, want):
    xs = [float(i) for i in range(n)]
    t = stats.tail(xs)
    if want is None:
        assert t is None
        return
    p, value = t
    assert p == want
    assert sum(1 for x in xs if x > value) >= stats.MIN_BEYOND


@pytest.mark.parametrize("text, want", [
    ("1,234", 1234.0), ("7", 7.0), ("12.5 MiB", 12.5 * 2 ** 20),
    ("35 ms", 0.035), ("2.0 s", 2.0), ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n"
     "1141.0 B (283.0 B, 286.0 B, 286.0 B (stage 1.0: task 5))", 1141.0),
    ("total (min, med, max (stageId: taskId))\n"
     "8.0 s (2.0 s, 2.0 s, 2.1 s (stage 1.0: task 7))", 8.0)])
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


def test_union_seconds_merges_and_clips():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert union_seconds([], 0, 1) == 0.0


def test_benchmark_spec_names_are_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_status_reader_on_tiny_queries():
    """A relational query and an Arrow-boundary query, each under its
    own job group, read back through both status stores."""
    with RunDir() as rd:
        spark = start_session(rd)
        try:
            from pyspark.sql import functions as F

            def passthrough(batches):
                yield from batches

            rec = Recorder(spark)
            df = spark.range(0, 10_000, numPartitions=4).withColumn("k", F.col("id") % 7)
            with rec.run_pass(False) as plain:
                rec.op(plain, "agg", "read", "plans",
                       lambda: df.groupBy("k").count(), lambda d: d.collect())
            with rec.run_pass(True) as traced:
                rows = rec.op(traced, "arrow", "read", "plans",
                              lambda: df.mapInArrow(passthrough, df.schema)
                              .join(spark.range(0, 3).withColumnRenamed("id", "k"), "k"),
                              lambda d: d.collect())
            assert not any(o.failed for p in rec.passes for o in p.ops)
            reader = StatusReader(spark)
            reader.drain()

            jobs = reader.jobs(plain.group)
            assert jobs and all(j.start and j.end and j.end >= j.start for j in jobs)
            assert pass_cpu_seconds(reader, rec.groups(plain), set()) > 0

            op = traced.ops[0]
            stages = [reader.stage(s, scopes=True)
                      for j in reader.jobs(op.op_id) for s in j.stage_ids]
            assert any(s.python for s in stages)
            assert all(s.status in ("COMPLETE", "SKIPPED") for s in stages)

            m = layer_metrics(reader, rec, {"arrow": len(rows)})
            assert m["pipeline.arrow_rows"] == 10_000
            assert m["pipeline.arrow_run_s"] > 0
            assert m["operators.join_rows"] == len(rows)
            assert m["operators.rows_out_per_join_row"] == 1.0
            assert m["spark.jobs"] >= 1 and m["spark.tasks"] >= 4
            assert 0 <= m["driver.gap_s"] <= op.wall
        finally:
            stop_session(spark)
