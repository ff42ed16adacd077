#!/usr/bin/env python
"""r13 optimization measurement harness.

Times named registry queries with the noop sink (best-of-N, labelled
jobs) and optionally dumps `.explain("formatted")` to
plans/<round>/<query>_<tag>.txt for the before/after evidence.

Usage:
    python scripts/opt_measure.py [--sf DIR] [--runs N] [--plans TAG] q1 q2 ...
    python scripts/opt_measure.py --plans before q05_nation_revenue

Prints one "name seconds" line per query plus a JSON summary line.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from legate_dataframe_spark.core.caching import release_caches  # noqa: E402
from legate_dataframe_spark.plans.registry import QUERIES  # noqa: E402
from legate_dataframe_spark.session import get_session  # noqa: E402
from bench import contention_sentinel, time_query  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="dump explain(formatted) to plans/<round>/<q>_<TAG>.txt")
    ap.add_argument("--round", default="r14",
                    help="plans subdirectory (default r14)")
    ap.add_argument("--no-time", action="store_true",
                    help="plan dump only, skip timing")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(app_name="opt-measure", master=f"local[{cpus}]")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(here, "plans", args.round)
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, float] = {}
    for name in args.queries:
        if args.plans:
            df = QUERIES[name].__wrapped__(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            p = os.path.join(plans_dir, f"{name}_{args.plans}.txt")
            with open(p, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {p}", file=sys.stderr)
            release_caches()
        if args.no_time:
            continue
        best = float("inf")
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"opt:{name}#{i}")
            best = min(best, time_query(spark, name, args.sf))
            spark.sparkContext.setJobDescription(None)
        release_caches()
        out[name] = round(best, 3)
        print(f"{name} {out[name]}", flush=True)

    if not args.no_time:
        print(json.dumps({"sf": args.sf, "runs": args.runs,
                          "sentinel_sec": contention_sentinel(),
                          "queries": out}))


if __name__ == "__main__":
    main()
