"""Runs one workload in an isolated scratch root and reports its metrics.

A run: generate the seeded inputs, start the engine's Spark session,
build the workload's persisted state and run its untimed warm-up
passes (together: ``setup_s``), then run timed passes back to back
until ``--seconds`` have passed (at least one; two in a traced run).
Status-store reads and the output checks of every pass happen after the
timed passes.

Everything the run writes (inputs, warehouse, Spark local dirs, JVM and
Python temp files) lives under ``.perfbench_tmp/run-*`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

from perfbench import stats
from perfbench.tracing import (
    Recorder,
    StatusReader,
    layer_metrics,
    pass_cpu_seconds,
    span_seconds,
)
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench_tmp")
# Driver heap: every workload's inputs are a few MB, and the box the
# benchmark was sized on has 4 cores and 15 GiB shared with other jobs.
HEAP = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Per-run scratch root; points every temp and data dir into it."""

    def __init__(self):
        self.root = os.path.join(SCRATCH, f"run-{os.getpid()}-{time.time_ns()}")
        self.inputs = os.path.join(self.root, "inputs")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.local = os.path.join(self.root, "local")
        self.tmp = os.path.join(self.root, "tmp")
        self._env: dict[str, str | None] = {}

    def __enter__(self) -> RunDir:
        for d in (self.inputs, self.warehouse, self.local, self.tmp):
            os.makedirs(d)
        env = {"TMPDIR": self.tmp, "SPARK_LOCAL_DIRS": self.local,
               "SPARK_GRAFT_CPUS": str(cpu_count()),
               "SPARK_GRAFT_DRIVER_MEM": HEAP,
               "PYSPARK_PYTHON": sys.executable}
        for k, v in env.items():
            self._env[k] = os.environ.get(k)
            os.environ[k] = v
        tempfile.tempdir = self.tmp
        return self

    def __exit__(self, *exc) -> None:
        tempfile.tempdir = None
        for k, v in self._env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(SCRATCH)  # only when no other run is using it


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _engine_rss_bytes(me: int) -> int:
    """Resident memory of the Spark JVM (this process's java child) and
    of its pyspark daemon and workers (``python -m pyspark.daemon``).
    Other descendants are skipped: the JVM forks short-lived helpers
    (Hadoop's local file system shells out), and such a fork shares, but
    would be counted with, the JVM's whole resident set."""
    total = 0
    for pid in descendants(me):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while it was read
        jvm = ppid == me and os.path.basename(argv[0]) == b"java"
        if jvm or b"pyspark.daemon" in argv:
            total += pages * os.sysconf("SC_PAGE_SIZE")
    return total


class RssSampler:
    """Peak of :func:`_engine_rss_bytes`, sampled every 100 ms."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _engine_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def start_session(rd: RunDir):
    from legate_dataframe_spark.session import get_session

    retained = "100000"  # keep every job of a run in the status store
    spark = get_session(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": rd.warehouse,
        "spark.local.dir": rd.local,
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={rd.tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process they ran."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


@contextlib.contextmanager
def core_spans(rec: Recorder):
    """Spans around the ``core.bucketing`` persistence calls.  The
    pipeline index functions import these at call time, so wrapping the
    module attributes covers their internal appends and swaps too."""
    from legate_dataframe_spark.core import bucketing

    names = {"append_versioned": "core.append", "swap_versioned": "core.swap",
             "vacuum_generations": "core.vacuum"}
    saved = {n: getattr(bucketing, n) for n in names}

    def wrap(fn, span):
        def traced(*a, **kw):
            with rec.span(span):
                return fn(*a, **kw)
        return traced

    for n, span in names.items():
        setattr(bucketing, n, wrap(saved[n], span))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(bucketing, n, fn)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float,
                 trace: bool) -> tuple[dict, list[str]]:
    """Run one workload; returns (result object, report lines)."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; have {sorted(WORKLOADS)}")
    from legate_dataframe_spark.core.caching import release_caches

    spec = load_spec()
    with RunDir() as rd, RssSampler() as rss:
        t0 = time.perf_counter()
        wl = WORKLOADS[name](seed, rd.inputs)
        sizes = wl.generate()
        t1 = time.perf_counter()
        spark = start_session(rd)
        session_s = time.perf_counter() - t1
        try:
            rec = Recorder(spark, release=release_caches)
            wl.prepare(spark, rec)
            for _ in range(wl.warmup_passes):
                with rec.run_pass(False) as p:
                    wl.run_pass(spark, rec, p)
            setup_s = time.perf_counter() - t0

            t_start = time.perf_counter()
            ticks0 = host_cpu_ticks()
            while True:
                # a traced run alternates untraced and traced passes
                traced = trace and (len(rec.passes) - wl.warmup_passes) % 2 == 1
                with contextlib.ExitStack() as stack:
                    if traced:
                        stack.enter_context(core_spans(rec))
                    with rec.run_pass(traced) as p:
                        wl.run_pass(spark, rec, p)
                done = len(rec.passes) - wl.warmup_passes
                if wl.exhausted or (done >= (2 if trace else 1) and
                                    time.perf_counter() - t_start >= seconds):
                    break

            ticks1 = host_cpu_ticks()
            steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
            reader = StatusReader(spark)
            reader.drain()
            timed = rec.passes[wl.warmup_passes:]
            plain = [p for p in timed if not p.traced]
            seen: set[int] = set()
            cpu = [pass_cpu_seconds(reader, rec.groups(p), seen) for p in plain]
            extras = wl.finish(spark)
            layers = (layer_metrics(reader, rec, wl.result_rows)
                      if trace else {})
        finally:
            stop_session(spark)

    ops = [o for p in rec.passes for o in p.ops]
    failed = sum(1 for o in ops if o.failed or o.op_id in wl.checks.failed_ops)
    reads = [o.wall for p in plain for o in p.ops if o.kind == "read"]
    writes = [o.wall for p in timed for o in p.ops if o.kind == "write"]
    values = {
        "setup_s": setup_s,
        "wall_s": stats.median([p.wall for p in plain]),
        "read_p50_s": stats.median(reads),
        "cpu_s": stats.median(cpu),
        "peak_rss_mb": rss.peak / 2 ** 20,
    }
    if trace:
        tr = [p for p in timed if p.traced]
        n = len(tr)
        values.update(layers)
        values.update({
            "session.start_s": session_s,
            "caching.persists_released": sum(p.released for p in tr) / n,
            "core.append_s": span_seconds(rec, "core.append"),
            "core.swap_s": span_seconds(rec, "core.swap"),
            "core.vacuum_s": span_seconds(rec, "core.vacuum"),
            "write_p50_s": stats.median(writes) if writes else 0.0,
            "stored_bytes_ratio": extras.get("stored_bytes_ratio", 0.0),
            "core.generations_live": extras.get("core.generations_live", 0.0),
            "core.warehouse_bytes": extras.get("core.warehouse_bytes", 0.0),
            "ops_failed_frac": failed / len(ops),
            "trace.overhead_s": (stats.median([p.wall for p in tr])
                                 - values["wall_s"]),
        })
        for layer in ("pipeline.index_insert", "pipeline.index_delete",
                      "pipeline.index_serve"):
            values[f"{layer}_s"] = sum(o.wall for p in tr for o in p.ops
                                       if o.layer == layer) / n
    wanted = spec["per_layer" if trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }
    lines = report(name, seed, trace, sizes, timed, reads, writes, cpu,
                   steal, values, wl, rec.errors, wanted)
    return result, lines


def report(name, seed, trace, sizes, timed, reads, writes, cpu, steal,
           values, wl, errors, wanted) -> list[str]:
    out = [f"perfbench {name} seed={seed} trace={int(trace)} "
           f"cpus={cpu_count()} heap={HEAP} passes={len(timed)} "
           f"(traced {sum(p.traced for p in timed)})"]
    for t, s in sizes.items():
        out.append(f"  input {t}: {s['rows']} rows, {s['bytes']} bytes")
    out.append("  timed pass walls (s): " + " ".join(
        f"{p.wall:.3f}{'*' if p.traced else ''}" for p in timed)
        + "  (*: traced)")
    out.append("  untraced pass executor cpu (s): "
               + " ".join(f"{c:.3f}" for c in cpu)
               + f"; host CPU steal during the timed passes: {steal:.1%}")
    per_op: dict[str, list[float]] = {}
    for p in timed:
        for o in p.ops:
            per_op.setdefault(o.name, []).append(o.wall)
    out.append("  op median latency (s): " + " ".join(
        f"{k}={stats.median(v):.3f}" for k, v in per_op.items()))
    for label, xs in (("read", reads), ("write", writes)):
        if not xs:
            continue
        t = stats.tail(xs)
        tail = (f"p{t[0]:g}={t[1]:.4f} s" if t else
                f"no percentile above p50 has {stats.MIN_BEYOND} samples beyond it")
        out.append(f"  {label} ops: n={len(xs)} p50={stats.median(xs):.4f} s; {tail}")
    for m in wanted:
        out.append(f"  {m['name']:<34} {values[m['name']]:>16.6f} {m['unit']}")
    for f in wl.checks.failures:
        out.append(f"  CHECK FAILED {f}")
    for e in errors:
        out.append(f"  OP FAILED {e}")
    return out
