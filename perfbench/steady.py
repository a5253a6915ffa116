"""Steadiness command: run one workload N times, each in a fresh process
with another seed (1, 2, ...) for BENCHMARK.json's ``run_seconds``, and
print per end-to-end metric the median, the quartiles, the inter-quartile
spread and the worst single run's deviation from the median, each against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload curate_corpus --runs 10 --sets 2

With ``--sets 2`` a second set of runs (seeds following the first set's)
is compared with the first: every metric's median must stay within its
bound of the first set's, either way, and the share of failed operations
must be the same.
``--traced N`` adds N traced runs and prints the tracing overhead, traced
``pass_s`` minus untraced ``pass_s``.  Exits 1 if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t0
    return out


def summarize(results, metrics) -> bool:
    """Print one row per metric; True if every spread is within its bound
    and no operation failed."""
    ok = True
    print(f"  {'metric':<14}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>9}"
          f"{'worst':>9}{'bound':>8}")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = stats.quartiles(vals)
        spread = stats.spread(vals)
        worst = max(abs(v - med) for v in vals) / med
        flag = ""
        if spread > m["bound"]:
            ok, flag = False, "  SPREAD > BOUND"
        print(f"  {m['name']:<14}{med:>10.4f}{q1:>10.4f}{q3:>10.4f}{spread:>9.1%}"
              f"{worst:>9.1%}{m['bound']:>8.0%}{flag}")
        print("    runs: " + " ".join(f"{v:.4g}" for v in vals))
    failed = sum(r["failed"] for r in results)
    attempted = sum(r["attempted"] for r in results)
    print(f"  operations: {attempted} attempted, {failed} failed; "
          f"correct in {sum(r['correct'] for r in results)}/{len(results)} runs; "
          f"a run took {stats.median(r['wall_s'] for r in results):.1f} s (median), "
          f"{max(r['wall_s'] for r in results):.1f} s at most")
    return ok and failed == 0 and all(r["correct"] for r in results)


def main(argv=None) -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args(argv)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    sets, seed, ok = [], 1, True
    for s in range(args.sets):
        results = []
        for _ in range(args.runs):
            results.append(run_once(args.workload, seed, seconds, 0))
            seed += 1
        print(f"{args.workload} set {s + 1}: {args.runs} runs, {seconds} s each")
        ok &= summarize(results, metrics)
        sets.append(results)
    if len(sets) == 2:
        print("set 2 vs set 1 (median shift against the bound):")
        for m in metrics:
            a, b = (stats.median(r["metrics"][m["name"]]["value"] for r in rs) for rs in sets)
            shift = (b - a) / a
            flag = "" if abs(shift) <= m["bound"] else "  SHIFT > BOUND"
            ok &= not flag
            print(f"  {m['name']:<14}{a:>10.4f}{b:>10.4f}{shift:>+9.1%}{m['bound']:>8.0%}{flag}")
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        print(f"  failed share: {shares[0]:.6f} vs {shares[1]:.6f}")
        ok &= shares[0] == shares[1]
    if args.traced:
        traced = [run_once(args.workload, seed + i, seconds, 1)
                  for i in range(args.traced)]
        t = stats.median(r["metrics"]["trace.pass_s"]["value"] for r in traced)
        u = stats.median(r["metrics"]["pass_s"]["value"] for rs in sets for r in rs)
        print(f"tracing overhead: traced pass_s {t:.3f} s - untraced {u:.3f} s = {t - u:+.3f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
