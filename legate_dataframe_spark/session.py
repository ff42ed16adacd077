"""SparkSession factory tuned for this engine.

Local-mode defaults target the dev box (local[32], 128 GiB); the same
settings scale to a real cluster because they only touch logical knobs
(AQE, shuffle partitions, Arrow) — nothing hard-codes single-node
assumptions. At 100 TB the operative settings are AQE (runtime partition
coalescing + skew-join splitting), and a shuffle-partition count that AQE
re-sizes from runtime statistics, so the static number only needs to be a
sane upper bound for the local test scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesce small shuffle partitions,
    # split skewed ones, convert sort-merge → broadcast when a side
    # turns out small.  The reference's BroadcastInput::AUTO
    # (join.hpp:26) and its single-rank shuffle elision
    # (cpp/src/join.cpp:33-53) are both subsumed by AQE.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas/Python boundary (pipeline UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Quiet, headless.
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local[N] runs executors inside the driver JVM, whose default heap
    # is 1 GiB — a silent throttle (GC thrash, broadcast OOM risk) on a
    # 128 GiB box.  Only read at JVM launch; on a real cluster the
    # resource manager's executor/driver memory settings win instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # Keep compiled whole-stage classes resident across queries, as the
    # reference keeps its prebuilt kernels.  Spark's default of 100
    # entries is smaller than one warm corpus pass (~210 classes), so
    # every pass recompiled its whole working set.  One pass over all
    # 265 registry entries compiles 3,613 distinct classes at sf0.001
    # and 3,607 at sf0.01 (CodegenMetrics' compile count, local[4]);
    # 4096 is the next power of two.  Cost: about 7 KB of metaspace per
    # resident class.  Static: read once, when the JVM first compiles.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_session(
    app_name: str = "legate_dataframe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a real cluster pass ``master=None`` with a
    pre-configured environment and the defaults merge in.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 1) * 2

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
