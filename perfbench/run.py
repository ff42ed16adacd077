"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 10 --trace 0

runs one workload and prints a report, then, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, the ``per_layer`` ones with ``--trace 1``).
``--workload all`` runs every workload, one process each, and prints
their reports and one JSON object keyed by workload.

Run it from the root of a checkout: it imports the engine from there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="tpch_olap, corpus_clean, index_lifecycle or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    from perfbench.workloads import WORKLOADS

    results, status = {}, 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.rstrip("\n").splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"{w}: exited with code {proc.returncode}", flush=True)
            status = 1
            continue
        results[w] = json.loads(lines[-1])
    print(json.dumps(results))
    return status


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from perfbench.harness import run_workload

    result, lines = run_workload(args.workload, args.seed, args.seconds,
                                 bool(args.trace))
    print("\n".join(lines), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
