#!/usr/bin/env python
"""Targeted scale-probe runner: time NAMED registry queries at one or
more sf dirs and print per-run times as JSON.

Unlike bench.py (whole suite, best-of-N single number), this reports
EVERY run's wall time — for the serve-only family the first run pays
the one-time index build and later runs are pure serves, so run[0] vs
min(run[1:]) IS the build/serve split VERDICT r06 task 4 asked the 10×
probe rows to record.

Usage:
    python scripts/probe_queries.py --sf-dir /root/testdata/sf0.1 \
        --runs 3 ann_serve_only bm25_serve_only ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from legate_dataframe_spark.core.caching import release_caches
    from legate_dataframe_spark.session import get_session

    spark = get_session(app_name="ldf-probe",
                        master=f"local[{args.cpus}]")

    out: dict[str, list[float]] = {}
    for name in args.names:
        release_caches()
        runs = [round(time_query(spark, name, args.sf_dir), 3)
                for _ in range(args.runs)]
        out[name] = runs
        print(f"# {name}: {runs}", file=sys.stderr, flush=True)
    print(json.dumps({"sf_dir": args.sf_dir, "runs": out}))


if __name__ == "__main__":
    main()
