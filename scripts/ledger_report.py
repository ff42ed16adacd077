"""Same-epoch-only cross-round ledger comparison (VERDICT r11 task 7).

The best-of-round extras table used to mix records frozen on
0.108-sentinel epochs with 0.17-epoch records, producing false 2-3x
"regressions" that judge bisects then un-found.  This tool applies
the BASELINE.md rule BY CODE: two timings are comparable iff the
sentinels of the records they came from are within the ±1.2x band;
anything else is reported as EPOCH-SUSPECT, not as a regression.

For each query it takes the best (min) time per round among
non-contended records, remembers which record's sentinel produced
that best, and compares target round vs base round only when the two
providing sentinels are in-band.

Usage: python scripts/ledger_report.py [--target N] [--base M]
       [--threshold 1.5] [--json] [--confirm]
Defaults: target = newest round in history, base = newest earlier
round sharing any in-band record, threshold = 1.5.

REGRESS requires REPRODUCTION (VERDICT r12 task 3): the sentinel
band is necessary but not sufficient — r12's ledger passed 21
within-band deltas that a judge bisect falsified one by one (r11's
best-of-round minima had sampled JVM/page-cache states the CPU
sentinel cannot see).  A within-band delta over the threshold is
therefore only a CANDIDATE: without ``--confirm`` it prints as
"unconfirmed move", never REGRESS.  With ``--confirm`` the tool
re-runs each candidate query best-of-5 in a fresh session at the
bench sf-dir; only when the reproduced best still exceeds
``threshold x base`` (and the box reads quiet) does REGRESS print.
A warm best-of-5 beating a cold single-run base is exactly the
asymmetry we want: reproduction can only DISMISS phantoms, a
genuine regression survives it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

BAND = 1.2  # the BASELINE.md same-epoch rule

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_history() -> list[dict]:
    recs = []
    with open(os.path.join(here, "BENCH_EXTRAS_HISTORY.jsonl")) as fh:
        for line in fh:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if "queries" in rec and "sentinel_sec" in rec \
                    and isinstance(rec.get("round"), int):
                recs.append(rec)
    return recs


def best_of_round(recs: list[dict], rnd: int,
                  metric: str | None = None) -> dict[str, tuple]:
    """query -> (best_sec, providing_sentinel); contended records are
    excluded up front (they self-tagged for exactly this purpose).
    ``metric`` restricts to one record TYPE — a best-of-3 extras
    number and a single-run cold ledger number are not comparable
    (the ledger pays first-run JVM/codegen/Python-worker warm-up per
    query), so cross-round deltas must be extras-vs-extras or
    ledger-vs-ledger, never mixed."""
    out: dict[str, tuple] = {}
    for rec in recs:
        if rec["round"] != rnd or rec.get("contended"):
            continue
        if metric is not None and rec.get("metric") != metric:
            continue
        s = rec["sentinel_sec"]
        for q, t in rec["queries"].items():
            if not isinstance(t, (int, float)) or t < 0:
                continue
            if q not in out or t < out[q][0]:
                out[q] = (t, s)
    return out


def in_band(s1: float, s2: float) -> bool:
    lo, hi = min(s1, s2), max(s1, s2)
    return hi <= BAND * lo


def ab_bisect(queries: list[str], base_ref: str, threshold: float,
              sf_dir: str, runs: int = 5) -> dict[str, dict]:
    """Code-vs-code escalation for reproduced regressions: a warm
    best-of-N can still 'confirm' pure EPOCH DRIFT, because the base
    number came from another JVM/page-cache epoch (measured r13:
    embedding_norms reproduced 1.8x its r12 base while the r12 CODE,
    re-run interleaved today, read 1.6x that same base).  This runs
    the query best-of-``runs`` in a worktree of ``base_ref`` and in
    the live tree, interleaved A-B-A-B, and blames the CODE only if
    live/base still exceeds the threshold on the same epoch."""
    import subprocess
    import tempfile

    wt = tempfile.mkdtemp(prefix="ldf_ab_")
    subprocess.run(["git", "-C", here, "worktree", "add", "--detach",
                    wt, base_ref], check=True, capture_output=True)

    def probe(tree: str) -> dict[str, float]:
        out = subprocess.run(
            [sys.executable, os.path.join(tree, "scripts",
                                          "probe_queries.py"),
             "--sf-dir", sf_dir, "--runs", str(runs), *queries],
            capture_output=True, text=True, cwd=tree)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        return {q: min(ts)
                for q, ts in json.loads(line)["runs"].items()}

    try:
        a1, b1 = probe(wt), probe(here)
        a2, b2 = probe(wt), probe(here)
    finally:
        subprocess.run(["git", "-C", here, "worktree", "remove",
                        "--force", wt], capture_output=True)
    out = {}
    for q in queries:
        base = min(a1[q], a2[q])
        live = min(b1[q], b2[q])
        ratio = live / base if base else float("inf")
        out[q] = {"ab_base_sec": round(base, 3),
                  "ab_live_sec": round(live, 3),
                  "ab_ratio": round(ratio, 2),
                  "code_regression": ratio >= threshold}
        print(f"  ab {q}: base({base_ref}) {base:.3f}s vs live "
              f"{live:.3f}s ({ratio:.2f}x) -> "
              f"{'REGRESS' if ratio >= threshold else 'epoch-drift'}",
              file=sys.stderr, flush=True)
    return out


def reproduce(candidates: list[tuple], threshold: float,
              sf_dir: str, runs: int = 5) -> list[dict]:
    """Re-run each candidate query best-of-``runs`` in THIS session
    and adjudicate: confirmed iff the reproduced best still exceeds
    ``threshold x base`` on a quiet box.  Imports bench machinery
    lazily — reproduction spins up Spark, the report alone must not.
    """
    sys.path.insert(0, here)
    import bench
    from legate_dataframe_spark.core.caching import release_caches
    from legate_dataframe_spark.session import get_session

    spark = get_session(app_name="ldf-ledger-confirm",
                        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for q, ratio, t, b in candidates:
        times = []
        for _ in range(runs):
            release_caches()
            times.append(bench.time_query(spark, q, sf_dir))
        sent = bench.contention_sentinel()
        best = min(times)
        quiet = sent <= bench.CONTENDED_FACTOR * bench.QUIET_SENTINEL_SEC
        confirmed = quiet and best >= threshold * b
        out.append({"query": q, "ledger_sec": t, "base_sec": b,
                    "reproduced_best_sec": round(best, 3),
                    "reproduced_runs": [round(x, 3) for x in times],
                    "sentinel_sec": round(sent, 4),
                    "verdict": "REGRESS" if confirmed
                    else ("unconfirmable-contended" if not quiet
                          else "phantom")})
        print(f"  reproduce {q}: best-of-{runs} "
              f"{best:.2f}s vs base {b}s (ledger said {t}s, "
              f"sentinel {sent:.3f}) -> {out[-1]['verdict']}",
              file=sys.stderr, flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", type=int)
    ap.add_argument("--base", type=int)
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--metric",
                    default="all_queries_seconds_single_run",
                    help="record type to compare (ledger single-run "
                         "by default; pass extra_queries_seconds for "
                         "the best-of-3 extras; empty string = mixed)")
    ap.add_argument("--confirm", action="store_true",
                    help="re-run candidate regressions best-of-5 in "
                         "a fresh session; only reproduced ones "
                         "print REGRESS")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--ab-base", default=None,
                    help="git ref of the BASE round's code; a "
                         "reproduced regression escalates to an "
                         "interleaved code-vs-code A/B in a "
                         "worktree of this ref and prints REGRESS "
                         "only if the same-epoch ratio still "
                         "exceeds the threshold")
    ap.add_argument("--also", nargs="*", default=[],
                    help="force these queries into the --confirm "
                         "reproduction pass even when their delta "
                         "is under the threshold (e.g. the judge's "
                         "bisected set)")
    args = ap.parse_args()

    recs = load_history()
    rounds = sorted({r["round"] for r in recs})
    if not rounds:
        print("no usable history records")
        return 1
    target = args.target or rounds[-1]
    metric = args.metric or None
    rounds_m = sorted({r["round"] for r in recs
                       if not r.get("contended")
                       and (metric is None
                            or r.get("metric") == metric)})
    if target not in rounds_m:
        print(f"round {target} has no quiet {metric or 'any'} "
              f"record — nothing to compare")
        return 1
    base = args.base or max((r for r in rounds_m if r < target),
                            default=None)
    if base is None:
        print(f"no quiet base round earlier than {target} for "
              f"metric {metric or 'any'}")
        return 1
    print(f"metric: {metric or 'ALL (mixed — prefer --metric)'}",
          file=sys.stderr if args.json else sys.stdout)
    t_best = best_of_round(recs, target, metric)
    b_best = best_of_round(recs, base, metric)
    regress, improve, suspect, flat = [], [], [], 0
    for q in sorted(set(t_best) & set(b_best)):
        (tt, ts), (bt, bs) = t_best[q], b_best[q]
        if not in_band(ts, bs):
            suspect.append((q, tt, ts, bt, bs))
            continue
        ratio = tt / bt if bt > 0 else float("inf")
        if ratio >= args.threshold:
            regress.append((q, ratio, tt, bt))
        elif ratio <= 1 / args.threshold:
            improve.append((q, ratio, tt, bt))
        else:
            flat += 1
    # REGRESS requires reproduction (VERDICT r12 task 3): without
    # --confirm every candidate is an "unconfirmed move"
    repro: list[dict] = []
    to_check = list(regress)
    named = {q for q, *_ in regress}
    for q in args.also:
        if q in named or q not in t_best or q not in b_best:
            continue
        (tt, _), (bt, _) = t_best[q], b_best[q]
        to_check.append((q, tt / bt if bt else float("inf"), tt, bt))
    if to_check and args.confirm:
        repro = reproduce(to_check, args.threshold, args.sf_dir)
        confirmed = {r["query"] for r in repro
                     if r["verdict"] == "REGRESS"}
        # escalation: a reproduced regression must also survive a
        # same-epoch code-vs-code A/B before it may print REGRESS
        if confirmed and args.ab_base:
            ab = ab_bisect(sorted(confirmed), args.ab_base,
                           args.threshold, args.sf_dir)
            for r in repro:
                if r["query"] in ab:
                    r.update(ab[r["query"]])
                    if not ab[r["query"]]["code_regression"]:
                        r["verdict"] = "epoch-drift"
            confirmed = {r["query"] for r in repro
                         if r["verdict"] == "REGRESS"}
    else:
        confirmed = set()
    if args.json:
        print(json.dumps({
            "target": target, "base": base, "band": BAND,
            "threshold": args.threshold, "flat": flat,
            "confirm_ran": bool(regress and args.confirm),
            "regressions": [
                {"query": q, "ratio": round(r, 2), "target_sec": t,
                 "base_sec": b} for q, r, t, b in regress
                if q in confirmed],
            "unconfirmed_moves": [
                {"query": q, "ratio": round(r, 2), "target_sec": t,
                 "base_sec": b} for q, r, t, b in regress
                if q not in confirmed],
            "reproductions": repro,
            "improvements": [
                {"query": q, "ratio": round(r, 2), "target_sec": t,
                 "base_sec": b} for q, r, t, b in improve],
            "epoch_suspect": [
                {"query": q, "target_sec": t, "target_sentinel": ts,
                 "base_sec": b, "base_sentinel": bs}
                for q, t, ts, b, bs in suspect]}, indent=1))
        return 0
    print(f"round {target} vs {base} — within-band only "
          f"(sentinel +-{BAND}x); {flat} flat, "
          f"{len(improve)} improved, {len(regress)} regression "
          f"candidate(s) ({len(confirmed)} reproduced), "
          f"{len(suspect)} epoch-suspect (NOT comparable)")
    for q, r, t, b in sorted(regress, key=lambda x: -x[1]):
        if q in confirmed:
            print(f"  REGRESS (reproduced) {q}: {b}s -> {t}s "
                  f"({r:.2f}x)")
        elif args.confirm:
            v = next(x for x in repro if x["query"] == q)
            print(f"  unconfirmed move {q}: {b}s -> {t}s ({r:.2f}x) "
                  f"— best-of-5 reproduced "
                  f"{v['reproduced_best_sec']}s -> {v['verdict']}")
        else:
            print(f"  unconfirmed move {q}: {b}s -> {t}s ({r:.2f}x) "
                  f"— run --confirm to adjudicate; REGRESS requires "
                  f"reproduction")
    for q, r, t, b in sorted(improve, key=lambda x: x[1])[:10]:
        print(f"  improve {q}: {b}s -> {t}s ({r:.2f}x)")
    if suspect:
        print("  epoch-suspect (sentinels out of band — compare on "
              "a matching epoch before believing any delta):")
        for q, t, ts, b, bs in suspect[:20]:
            print(f"    {q}: {b}s@{bs} vs {t}s@{ts}")
        if len(suspect) > 20:
            print(f"    ... and {len(suspect) - 20} more")
    return 0


if __name__ == "__main__":
    sys.exit(main())
