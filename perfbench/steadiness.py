#!/usr/bin/env python3
"""Steadiness check: do two independent sets of runs of the same code agree?

Usage (from the root of a graft checkout):

    python3 perfbench/steadiness.py [--workload W ...] [--seeds 1,2,3]
                                    [--runs 10] [--sets 2]

Each set makes `--runs` untraced runs of every workload, cycling through
`--seeds`. For each workload and end-to-end metric it prints each set's
median and quartiles, the spread (interquartile range over median) and
whether it holds:

  - spread: every metric but `setup_s` must spread less than its bound;
  - agree:  the second set's median must not be worse than the first's by
            more than the bound.

Bounds are read from BENCHMARK.json and never widened here; a metric that
misses one is reported as unsteady and the exit code is 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=1000)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"run failed: {workload} seed {seed} rc={r.returncode}")
    res = json.loads(last)
    if not res["correct"]:
        print(f"  {workload} seed {seed}: {res['failed']} of "
              f"{res['attempted']} failed", flush=True)
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = [int(s) for s in args.seeds.split(",")]
    metrics = bench["end_to_end"]

    unsteady = 0
    for w in workloads:
        sets = []
        for k in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = seeds[i % len(seeds)]
                runs.append(one_run(w, seed, bench["run_seconds"]))
                print(f"  {w} set {k + 1} run {i + 1} seed {seed}: " +
                      " ".join(f"{m}={v:.4g}" for m, v in runs[-1].items()),
                      flush=True)
            sets.append(runs)
        print(f"== {w}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            lower = m["better"] == "lower"
            cols, meds, ok = [], [], True
            for runs in sets:
                vals = [r[name] for r in runs]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else float("inf")
                meds.append(statistics.median(vals))
                cols.append(f"median {meds[-1]:.4g} [q1 {q1:.4g}, q3 {q3:.4g}]"
                            f" spread {spread:.3f}")
                if name != "setup_s" and spread > bound:
                    ok = False
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) if lower else (meds[0] - meds[1])
                drift = worse / meds[0] if meds[0] else float("inf")
                cols.append(f"drift {drift:+.3f}")
                if drift > bound:
                    ok = False
            unsteady += not ok
            print(f"  {name:16s} bound {bound:.2f}  " + " | ".join(cols) +
                  ("  ok" if ok else "  UNSTEADY"), flush=True)
    sys.exit(1 if unsteady else 0)


if __name__ == "__main__":
    main()
