#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, compared per metric.

    python3 perfbench/steady.py [--workload <name> ...] [--runs 5] [--save runs.json]

For each workload, runs `--runs` untraced runs per set (two sets, every run
with its own seed), then prints, per end-to-end metric, each set's median
and quartiles, the spread of all runs (quartile distance over the median)
against the metric's bound, and whether the two sets' medians agree within
that bound. It also checks that every run was correct and that the share
of failed operations is the same in every run. Exits 1 if anything is off.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def worse(a, b, better):
    """How much worse b is than a, as a share of a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--save", help="write every run's result to this JSON file")
    a = ap.parse_args()
    ok = True
    saved = {}
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        sets = [[run_once(w, 1000 * s + i + 1, spec["run_seconds"]) for i in range(a.runs)]
                for s in range(2)]
        runs = sets[0] + sets[1]
        saved[w] = sets
        if a.save:
            with open(a.save, "w") as f:
                json.dump(saved, f)
        shares = {r["failed"] / r["attempted"] for r in runs}
        correct = all(r["correct"] for r in runs)
        print(f"{w}: {len(runs)} runs, all correct: {correct}, "
              f"failed share per run: {sorted(shares)}")
        ok &= correct and len(shares) == 1
        print(f"  {'metric':<12} {'set':>3} {'q1':>12} {'median':>12} {'q3':>12}"
              f"   spread(all)  bound  agree")
        for m in spec["end_to_end"]:
            n, bound = m["name"], m["bound"]
            rows = [quartiles([r["metrics"][n]["value"] for r in s]) for s in sets]
            q1, med, q3 = quartiles([r["metrics"][n]["value"] for r in runs])
            spread = (q3 - q1) / med
            drift = worse(rows[0][1], rows[1][1], m["better"])
            agree = drift <= bound
            steady = n == "setup_s" or spread <= bound
            ok &= agree and steady
            for k, (lo, mid, hi) in enumerate(rows):
                tail = (f"   {spread:10.3f}  {bound:5.2f}  {'yes' if agree else 'NO'}"
                        f"{'' if steady else ' (spread over bound)'}") if k == 1 else ""
                print(f"  {n:<12} {k + 1:>3} {lo:12.4f} {mid:12.4f} {hi:12.4f}{tail}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
