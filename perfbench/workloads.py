"""The three benchmark workloads.

Each workload generates its inputs from the seed, optionally builds
persisted state, and runs *passes*: one pass runs every op of the
workload once, back to back, from one client (a closed loop).  The first
``warmup_passes`` of a run are untimed.  Results are checked in
``finish``, after the timed passes.

- ``tpch_olap``: ten relational registry queries over TPC-H-shaped
  tables.  Scan, exchange and join/aggregate work with no Python
  boundary and no writes, so it is the workload that bypasses
  ``pipeline`` and ``core``.
- ``corpus_clean``: seven corpus registry queries over a document
  corpus with planted duplicates, spans and boilerplate.  The rolling
  digest ``mapInArrow`` kernels, digest exchanges and posting
  self-joins dominate; the boilerplate makes hot join keys.
- ``index_lifecycle``: a persisted minhash index and a versioned event
  rollup, maintained generation by generation: insert a batch, serve,
  delete a batch, vacuum.  Writes beside reads: ``core`` persistence,
  catalog swaps and warehouse IO.
"""

from __future__ import annotations

import collections
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import inputs
from tests.oracle_harness import compare

# ---------------------------------------------------------------- checks

# Evaluation hints for oracles that DuckDB would otherwise recompute per
# reference: the rewrite changes how a CTE is evaluated, not what it
# returns.  Without it the pipeline_end_to_end oracle re-runs its quality
# filter inside every step of the recursive component walk (about 8x
# slower), which a per-run check cannot afford.
_ORACLE_HINTS = {
    "pipeline_end_to_end": ("filtered AS (", "filtered AS MATERIALIZED ("),
}


def oracle_sql(name: str) -> str:
    from legate_dataframe_spark.plans.registry import ORACLES

    sql = ORACLES[name]
    hint = _ORACLE_HINTS.get(name)
    if hint and sql.count(hint[0]) == 1:
        sql = sql.replace(*hint)
    return sql


def duckdb_views(input_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, as the
    repository's oracle harness builds it for the test data."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
    return con


class Checks:
    """Output checks of one run: which ops failed them, and why."""

    def __init__(self):
        self.failures: list[str] = []
        self.failed_ops: set[str] = set()

    def run(self, op_id: str, label: str, fn) -> None:
        try:
            issues = fn()
        except Exception as ex:  # a check that cannot run is a failure
            issues = [f"check raised {type(ex).__name__}: {ex}"]
        if issues:
            self.failed_ops.add(op_id)
            self.failures.append(f"{label}: {'; '.join(issues[:3])}")


def _sizes(paths: dict[str, list[str]], rows: dict[str, int]) -> dict:
    return {t: {"rows": rows[t],
                "bytes": sum(os.path.getsize(p) for p in ps)}
            for t, ps in paths.items()}


# ------------------------------------------------------- registry queries


class RegistryWorkload:
    """Registry queries over generated tables; each op is
    ``QUERIES[name](spark, input_dir).toPandas()``: the client reads the
    result, so the warm-up pass runs the same code path as the timed
    passes and every timed result is checked too."""

    name = ""
    ops: list[str] = []
    tables: list[str] = []
    warmup_passes = 1

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.input_dir = input_dir
        self.checks = Checks()
        self.result_rows: dict[str, int] = {}
        self.results: list[tuple[str, str, pd.DataFrame]] = []
        self.exhausted = False

    def tables_for(self, seed: int) -> dict[str, pa.Table]:
        raise NotImplementedError  # each workload names its tables

    def generate(self) -> dict:
        paths, rows = {}, {}
        for t, tab in self.tables_for(self.seed).items():
            p = f"{self.input_dir}/{t}.parquet"
            inputs.write_table(tab, p)
            paths[t], rows[t] = [p], tab.num_rows
        self.tables = sorted(paths)
        return _sizes(paths, rows)

    def prepare(self, spark, rec) -> None:
        """Registry queries read the input files directly: no state."""

    def run_pass(self, spark, rec, p) -> None:
        from legate_dataframe_spark.plans.registry import QUERIES

        for q in self.ops:
            got = rec.op(p, q, "read", "plans",
                         lambda q=q: QUERIES[q](spark, self.input_dir),
                         lambda df: df.toPandas())
            if got is not None:
                self.results.append((p.ops[-1].op_id, q, got))

    def finish(self, spark) -> dict:
        """Check every op's result against the op's DuckDB oracle, run
        once per op over the same input files."""
        con = duckdb_views(self.input_dir, self.tables)
        want: dict[str, pd.DataFrame] = {}
        for op_id, q, got in self.results:
            def check(q=q, got=got):
                if q not in want:
                    want[q] = con.execute(oracle_sql(q)).fetchdf()
                return compare(got, want[q])
            self.checks.run(op_id, q, check)
            self.result_rows[q] = len(got)
        self.results.clear()
        return {}


class TpchOlap(RegistryWorkload):
    name = "tpch_olap"
    # TPC-H scale factor of the generated tables: 0.03 (180k lineitem
    # rows) keeps one warm pass near 7 s on 4 cores.
    scale = 0.03
    ops = ["q01_pricing_summary", "q03_shipping_priority",
           "q05_nation_revenue", "q09_product_profit",
           "q21_waiting_suppliers", "groupby_aggs", "join_inner",
           "window_topn_per_group", "sort_topk", "distinct_keys"]

    def tables_for(self, seed):
        return inputs.tpch_tables(seed, self.scale)


class CorpusClean(RegistryWorkload):
    name = "corpus_clean"
    n_docs = 600
    ops = ["dedup_exact", "dedup_minhash", "dedup_ngram",
           "substring_span_removal", "clean_corpus_onepass",
           "ngram_dup_counts", "pipeline_end_to_end"]

    def tables_for(self, seed):
        g = inputs.CorpusGenerator(seed)
        g.draw_many(0, self.n_docs)
        self.planted = dict(g.corpus.planted)
        return {"documents": g.corpus.table()}


# -------------------------------------------------------- index lifecycle


class IndexLifecycle:
    """Persisted minhash index + versioned rollup, one generation per
    pass: insert a batch, serve both, delete the oldest batch, vacuum.

    The live set is a sliding window of :attr:`live_chunks` chunks of
    documents and of events; every generation inserts one new chunk and
    retires the oldest, so live sizes stay constant across passes."""

    name = "index_lifecycle"
    # Generations keep getting faster for about three passes (catalog
    # and swap code paths run once per generation, so the JIT sees them
    # rarely); two warm-up generations leave a much smaller transient.
    warmup_passes = 2
    docs_per_chunk = 100
    events_per_chunk = 5000
    live_chunks = 4
    # batches generated at set-up: two for the warm-up generations and
    # enough for a 60 s run at the fastest generation seen (about 3 s)
    generations = 21
    num_buckets = 8
    prefix = "perfbench_idx"
    rollup = "perfbench_rollup"

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.input_dir = input_dir
        self.checks = Checks()
        self.result_rows: dict[str, int] = {}
        self.doc_files: list[str] = []
        self.doc_tables: list[pa.Table] = []
        self.event_files: list[str] = []
        self.event_tables: list[pa.Table] = []
        self.live: collections.deque[int] = collections.deque()
        self.next_chunk = 0
        self.serves: list[tuple[str, str, list[int], pd.DataFrame]] = []
        self.exhausted = False

    def generate(self) -> dict:
        g = inputs.CorpusGenerator(self.seed, stream="index")
        n = self.live_chunks + self.generations
        for c in range(n):
            rows = g.draw_many(c * self.docs_per_chunk, self.docs_per_chunk)
            t = g.corpus.table(rows)
            p = f"{self.input_dir}/docs/chunk-{c:04d}.parquet"
            inputs.write_table(t, p)
            self.doc_files.append(p)
            self.doc_tables.append(t)
            e = inputs.events_table(self.seed, self.events_per_chunk,
                                    first_id=c * self.events_per_chunk)
            p = f"{self.input_dir}/events/chunk-{c:04d}.parquet"
            inputs.write_table(e, p)
            self.event_files.append(p)
            self.event_tables.append(e)
        return _sizes({"documents": self.doc_files, "events": self.event_files},
                      {"documents": n * self.docs_per_chunk,
                       "events": n * self.events_per_chunk})

    def _docs(self, spark, chunks):
        return spark.read.parquet(*[self.doc_files[c] for c in chunks])

    def _events(self, spark, chunks):
        from pyspark.sql import functions as F

        return (spark.read.parquet(*[self.event_files[c] for c in chunks])
                .withColumn("ts", F.col("ts").cast("timestamp")))

    def prepare(self, spark, rec) -> None:
        from legate_dataframe_spark.core.bucketing import init_versioned
        from legate_dataframe_spark.pipeline.dedup import build_minhash_index
        from legate_dataframe_spark.pipeline.rollup import (
            GROUP_KEYS,
            event_partials,
        )

        base = list(range(self.live_chunks))
        build_minhash_index(spark, self._docs(spark, base), self.prefix,
                            num_buckets=self.num_buckets)
        init_versioned(spark, event_partials(self._events(spark, base)),
                       self.rollup, GROUP_KEYS, num_buckets=self.num_buckets)
        self.live.extend(base)
        self.next_chunk = self.live_chunks

    def run_pass(self, spark, rec, p) -> None:
        from legate_dataframe_spark.core.bucketing import (
            swap_versioned,
            vacuum_generations,
        )
        from legate_dataframe_spark.pipeline.dedup import (
            delete_from_minhash_index,
            insert_into_minhash_index,
            minhash_pairs_from_index,
        )
        from legate_dataframe_spark.pipeline.rollup import (
            GROUP_KEYS,
            incremental_rollup_update,
            rollup_retract,
        )

        new = self.next_chunk
        self.next_chunk += 1
        if self.next_chunk >= len(self.doc_files):
            self.exhausted = True
        nb = self.num_buckets

        def swap(df):
            swap_versioned(spark, df, self.rollup, GROUP_KEYS,
                           num_buckets=nb, keep_old=True)

        rec.op(p, "index_insert", "write", "pipeline.index_insert",
               lambda: insert_into_minhash_index(
                   spark, self._docs(spark, [new]), self.prefix,
                   num_buckets=nb))
        rec.op(p, "rollup_update", "write", "pipeline.rollup_update",
               lambda: incremental_rollup_update(
                   spark, self.rollup, self._events(spark, [new])), swap)
        self.live.append(new)
        live = list(self.live)
        pairs = rec.op(p, "index_serve", "read", "pipeline.index_serve",
                       lambda: minhash_pairs_from_index(spark, self.prefix),
                       lambda df: df.toPandas())
        if pairs is not None:
            self.serves.append((p.ops[-1].op_id, "index_serve", live, pairs))
        state = rec.op(p, "rollup_serve", "read", "pipeline.rollup_serve",
                       lambda: spark.table(self.rollup),
                       lambda df: df.toPandas())
        if state is not None:
            self.serves.append((p.ops[-1].op_id, "rollup_serve", live, state))
        old = self.live.popleft()
        rest = list(self.live)
        rec.op(p, "index_delete", "write", "pipeline.index_delete",
               lambda: delete_from_minhash_index(
                   spark, self._docs(spark, [old]).select("doc_id"),
                   self.prefix, num_buckets=nb, keep_old=True))
        rec.op(p, "rollup_retract", "write", "pipeline.rollup_retract",
               lambda: rollup_retract(spark, self.rollup,
                                      self._events(spark, [old]),
                                      self._events(spark, rest)), swap)
        rec.op(p, "vacuum", "write", "core.vacuum",
               lambda: [vacuum_generations(spark, v, keep_last=2)
                        for v in (f"{self.prefix}_bands",
                                  f"{self.prefix}_shingles", self.rollup)])

    def _expected_pairs(self, live: list[int]) -> pd.DataFrame:
        con = duckdb.connect()
        con.register("documents",
                     pa.concat_tables([self.doc_tables[c] for c in live]))
        return con.execute(oracle_sql("dedup_minhash")).fetchdf()

    def _expected_rollup(self, live: list[int]) -> pd.DataFrame:
        ev = pa.concat_tables([self.event_tables[c] for c in live]).to_pandas()
        frame = pd.DataFrame({
            "day": ev["ts"].dt.floor("D"),
            "event_type": ev["event_type"],
            "micro": np.floor(ev["value"].to_numpy() * 1_000_000.0)
            .astype(np.int64)})
        return (frame.groupby(["day", "event_type"], as_index=False)
                .agg(n=("micro", "size"), sum_micro=("micro", "sum"),
                     min_micro=("micro", "min"), max_micro=("micro", "max")))

    def finish(self, spark) -> dict:
        """Check every serve against a from-scratch recompute over the
        rows that were live when it ran, and measure the warehouse."""
        for op_id, kind, live, got in self.serves:
            want = (self._expected_pairs if kind == "index_serve"
                    else self._expected_rollup)
            self.checks.run(op_id, f"{kind}@{live}",
                            lambda got=got, want=want, live=live:
                            compare(got, want(live)))
            self.result_rows[kind] = len(got)
        self.serves.clear()
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        total, gens = 0, 0
        for root, dirs, files in os.walk(wh):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            gens += sum(1 for d in dirs if "__g" in d and root == wh)
        live = list(self.live)
        user = (sum(os.path.getsize(self.doc_files[c]) for c in live)
                + sum(os.path.getsize(self.event_files[c]) for c in live))
        return {"core.warehouse_bytes": float(total),
                "core.generations_live": float(gens),
                "stored_bytes_ratio": total / user}


WORKLOADS = {w.name: w for w in (TpchOlap, CorpusClean, IndexLifecycle)}
