"""Op timing, spans, and the Spark status-store reader.

:class:`Recorder` runs every benchmark op: it sets the Spark job group,
times the op, and (when tracing) keeps spans in memory.  Spark runs most
work lazily, after the call into the engine returns, so the per-layer
numbers come from Spark's own status stores, read once after the timed
passes: :class:`StatusReader` turns a job group into per-stage metrics
(``AppStatusStore.lastStageAttempt``) and per-SQL-node metrics
(``SQLAppStatusStore.executionMetrics``).  Both stores work with the UI
disabled.
"""

from __future__ import annotations

import contextlib
import sys
import time
import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

# Plan nodes that cross the JVM / Python-worker (Arrow) boundary.
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")
# Plan nodes that read files (FileSourceScanExec names itself "Scan
# <format> <table>"; "Scan ExistingRDD" and in-memory scans are not files).
FILE_SCANS = ("Scan parquet", "Scan orc", "Scan csv", "Scan json",
              "Scan text", "BatchScan")
_JOIN_NODE_MARKERS = ("Join", "CartesianProduct")
_ROWS = "number of output rows"
_WRITTEN_FILES = "number of written files"
_WRITTEN_BYTES = "written output"
_SCAN_BYTES = "size of files read"

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Recorder.spans
    op_id: str | None


@dataclass
class OpRecord:
    op_id: str
    name: str
    kind: str          # "read" or "write"
    layer: str         # the layer the op's own time is charged to
    start: float       # epoch seconds
    wall: float
    build: float       # time inside the call that returns the DataFrame
    failed: bool


@dataclass
class PassRecord:
    group: str
    traced: bool
    wall: float
    ops: list[OpRecord] = field(default_factory=list)
    released: int = 0  # tracked persists released after its ops


class Recorder:
    """Runs ops back to back and records their latency.

    Untraced passes put all their jobs under one job group per pass
    (enough for ``cpu_s``).  Traced passes give every op its own job
    group and record spans; spans stay in memory until the run ends."""

    def __init__(self, spark, release: Callable[[], int] | None = None):
        self.sc = spark.sparkContext
        self.release = release
        self.passes: list[PassRecord] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: OpRecord | None = None
        self._traced = False
        self.errors: list[str] = []
        # perf_counter gives durations; this offset aligns them with the
        # epoch-millisecond job times in the status store.
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextlib.contextmanager
    def run_pass(self, traced: bool) -> Iterator[PassRecord]:
        n = len(self.passes)
        p = PassRecord(f"perfbench-pass-{n}", traced, 0.0)
        self._traced = traced
        self.sc.setJobGroup(p.group, p.group, False)
        t0 = time.perf_counter()
        with self.span(f"pass-{n}"):
            yield p
        p.wall = time.perf_counter() - t0
        self.passes.append(p)
        self._traced = False

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Record a span when the current pass is traced."""
        if not self._traced:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.now(), 0.0, parent,
                               self._op.op_id if self._op else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = self.now()

    def op(self, p: PassRecord, name: str, kind: str, layer: str,
           build: Callable[[], object], action: Callable[[object], object]
           | None = None) -> object:
        """Run one op: ``action(build())``.  Returns the action's result
        (or the build's when there is no action), None on failure."""
        op_id = f"{p.group}-op{len(p.ops)}-{name}"
        o = OpRecord(op_id, name, kind, layer, self.now(), 0.0, 0.0, False)
        self._op = o
        if p.traced:
            self.sc.setJobGroup(op_id, name, False)
        t0 = time.perf_counter()
        result = None
        try:
            with self.span(name):
                with self.span("plans.build"):
                    built = build()
                o.build = time.perf_counter() - t0
                if action is not None:
                    with self.span("action"):
                        result = action(built)
                else:
                    result = built
                if self.release is not None:
                    p.released += self.release()
        except Exception:  # one failed op must not end the run
            o.failed = True
            result = None
            msg = traceback.format_exc()
            self.errors.append(f"{name}: {msg.strip().splitlines()[-1]}")
            print(f"[perfbench] op {name} failed:\n{msg}", file=sys.stderr)
        o.wall = time.perf_counter() - t0
        self._op = None
        if p.traced:
            self.sc.setJobGroup(p.group, p.group, False)
        p.ops.append(o)
        return result

    def groups(self, p: PassRecord) -> list[str]:
        return [o.op_id for o in p.ops] if p.traced else [p.group]


# ---------------------------------------------------------------- store


@dataclass
class StageStats:
    stage_id: int
    attempt: int
    status: str
    tasks: int
    tasks_failed: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_write_ns: int
    shuffle_read_bytes: int
    fetch_wait_ms: int
    spill_mem_bytes: int
    spill_disk_bytes: int
    scopes: tuple[str, ...] = ()

    @property
    def python(self) -> bool:
        return any(s in PYTHON_NODES for s in self.scopes)

    @property
    def scan(self) -> bool:
        return any(s.startswith(FILE_SCANS) for s in self.scopes)


@dataclass
class JobStats:
    job_id: int
    start: float | None  # epoch seconds
    end: float | None
    stage_ids: list[int]


def parse_metric(value: str) -> float:
    """Numeric total of a SQL metric string as the status store renders
    it: ``"1,234"``, ``"12.5 MiB"``, ``"35 ms"``, or the multi-line
    ``"total (min, med, max ...)\\n1141.0 B (283.0 B, ...)"`` form."""
    lines = value.strip().splitlines()
    head = lines[-1] if lines and lines[0].startswith("total") else value
    head = head.split("(")[0].strip().replace(",", "")
    parts = head.split()
    if not parts:
        raise ValueError(f"empty metric value {value!r}")
    num = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    scale = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
             "ns": 1e-9}.get(unit)
    if scale is None:
        raise ValueError(f"unknown metric unit in {value!r}")
    return num * scale


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads Spark's in-process status stores for finished jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._stages: dict[int, StageStats] = {}

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs that just finished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)

    def jobs(self, group: str) -> list[JobStats]:
        out = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            jd = self.store.job(jid)
            info = tracker.getJobInfo(jid)
            out.append(JobStats(int(jid), _opt_ms(jd.submissionTime()),
                                _opt_ms(jd.completionTime()),
                                [int(s) for s in info.stageIds] if info else []))
        return sorted(out, key=lambda j: j.job_id)

    def stage(self, stage_id: int, scopes: bool = False) -> StageStats:
        st = self._stages.get(stage_id)
        if st is None:
            s = self.store.lastStageAttempt(stage_id)
            st = StageStats(
                stage_id, int(s.attemptId()), s.status().toString(),
                int(s.numCompleteTasks()), int(s.numFailedTasks()),
                int(s.executorRunTime()), int(s.executorCpuTime()),
                int(s.jvmGcTime()), int(s.shuffleWriteBytes()),
                int(s.shuffleWriteTime()), int(s.shuffleReadBytes()),
                int(s.shuffleFetchWaitTime()), int(s.memoryBytesSpilled()),
                int(s.diskBytesSpilled()))
            self._stages[stage_id] = st
        if scopes and not st.scopes:
            st.scopes = tuple(self._scopes(stage_id))
        return st

    def _scopes(self, stage_id: int) -> list[str]:
        """Names of the RDD operation scopes of a stage — the physical
        plan nodes that built its RDDs (``Exchange``, ``MapInArrow``,
        ``Scan parquet ...``)."""
        names: list[str] = []
        todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return names

    def executions_by_job(self) -> dict[int, int]:
        """job id → SQL execution id, over every retained execution."""
        out: dict[int, int] = {}
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keysIterator()
            while it.hasNext():
                out[int(it.next())] = int(e.executionId())
        return out

    def node_metrics(self, execution_id: int) -> list[tuple[str, dict[str, str]]]:
        """(node name, {metric name: rendered value}) for every node of
        the execution's final physical plan."""
        graph = self.sql_store.planGraph(execution_id)
        values = self.sql_store.executionMetrics(execution_id)
        nodes = graph.allNodes()
        out = []
        for i in range(nodes.size()):
            n = nodes.apply(i)
            ms = n.metrics()
            vals = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    vals[m.name()] = v.get()
            out.append((n.name(), vals))
        return out


def union_seconds(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pass_cpu_seconds(reader: StatusReader, groups: list[str],
                     seen: set[int]) -> float:
    """Σ executorCpuTime of the stages run by ``groups``; each stage is
    counted once per run (``seen`` carries the stage ids used)."""
    ns = 0
    for g in groups:
        for job in reader.jobs(g):
            for sid in job.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                ns += reader.stage(sid).cpu_ns
    return ns / 1e9


def layer_metrics(reader: StatusReader, rec: Recorder,
                  result_rows: dict[str, int]) -> dict[str, float]:
    """Per-layer totals over the traced passes, divided by their count.

    ``result_rows`` maps op name → rows of its checked result, for the
    share of joined rows that reach a result."""
    traced = [p for p in rec.passes if p.traced]
    if not traced:
        raise ValueError("no traced pass to read layers from")
    m: dict[str, float] = {k: 0.0 for k in (
        "plans.build_s", "driver.gap_s", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.tasks_failed", "spark.stage_retries",
        "executor.run_s", "executor.cpu_s", "executor.gc_s",
        "sources.scan_bytes", "sources.scan_rows", "sources.scan_run_s",
        "exchange.write_bytes", "exchange.read_bytes", "exchange.write_s",
        "exchange.fetch_wait_s", "pipeline.arrow_run_s",
        "pipeline.arrow_rows", "operators.join_rows",
        "operators.spill_mem_bytes", "operators.spill_disk_bytes",
        "core.write_bytes", "core.files_written")}
    exec_of_job = reader.executions_by_job()
    seen_stages: set[int] = set()
    seen_execs: set[int] = set()
    joined_rows_in_results = 0.0
    result_total = 0.0
    for p in traced:
        for o in p.ops:
            jobs = reader.jobs(o.op_id)
            m["plans.build_s"] += o.build
            m["spark.jobs"] += len(jobs)
            spans = [(j.start, j.end) for j in jobs
                     if j.start is not None and j.end is not None]
            m["driver.gap_s"] += o.wall - union_seconds(
                spans, o.start, o.start + o.wall)
            op_join_rows = 0.0
            for j in jobs:
                for sid in j.stage_ids:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    s = reader.stage(sid, scopes=True)
                    if s.status == "SKIPPED":
                        continue
                    m["spark.stages"] += 1
                    m["spark.tasks"] += s.tasks + s.tasks_failed
                    m["spark.tasks_failed"] += s.tasks_failed
                    m["spark.stage_retries"] += s.attempt
                    m["executor.run_s"] += s.run_ms / 1e3
                    m["executor.cpu_s"] += s.cpu_ns / 1e9
                    m["executor.gc_s"] += s.gc_ms / 1e3
                    if s.scan:
                        m["sources.scan_run_s"] += s.run_ms / 1e3
                    m["exchange.write_bytes"] += s.shuffle_write_bytes
                    m["exchange.read_bytes"] += s.shuffle_read_bytes
                    m["exchange.write_s"] += s.shuffle_write_ns / 1e9
                    m["exchange.fetch_wait_s"] += s.fetch_wait_ms / 1e3
                    m["operators.spill_mem_bytes"] += s.spill_mem_bytes
                    m["operators.spill_disk_bytes"] += s.spill_disk_bytes
                    if s.python:
                        m["pipeline.arrow_run_s"] += s.run_ms / 1e3
                eid = exec_of_job.get(j.job_id)
                if eid is None or eid in seen_execs:
                    continue
                seen_execs.add(eid)
                for node, vals in reader.node_metrics(eid):
                    rows = parse_metric(vals[_ROWS]) if _ROWS in vals else 0.0
                    if any(k in node for k in _JOIN_NODE_MARKERS):
                        op_join_rows += rows
                    if node in PYTHON_NODES:
                        m["pipeline.arrow_rows"] += rows
                    if node.startswith(FILE_SCANS):
                        m["sources.scan_rows"] += rows
                        if _SCAN_BYTES in vals:
                            m["sources.scan_bytes"] += parse_metric(vals[_SCAN_BYTES])
                    if _WRITTEN_FILES in vals:
                        m["core.files_written"] += parse_metric(vals[_WRITTEN_FILES])
                    if _WRITTEN_BYTES in vals:
                        m["core.write_bytes"] += parse_metric(vals[_WRITTEN_BYTES])
            m["operators.join_rows"] += op_join_rows
            if op_join_rows and o.name in result_rows:
                joined_rows_in_results += op_join_rows
                result_total += result_rows[o.name]
    n = len(traced)
    out = {k: v / n for k, v in m.items()}
    out["operators.rows_out_per_join_row"] = (
        result_total / joined_rows_in_results if joined_rows_in_results else 0.0)
    return out


def span_seconds(rec: Recorder, name: str) -> float:
    """Σ duration of spans called ``name`` per traced pass."""
    n = sum(1 for p in rec.passes if p.traced)
    return sum(s.end - s.start for s in rec.spans if s.name == name) / max(n, 1)
