#!/usr/bin/env python3
"""Steadiness check: run one workload K times and report the spread.

Usage, from the repository root:

    python3 perfbench/steady.py --workload kg_long_tail_vocab --runs 10 --first-seed 1

Runs `perfbench/run.py` K times with seeds first-seed .. first-seed+K-1 and
prints, for each end-to-end metric, the median, the quartiles (Python's
statistics.quantiles(values, n=4)), the spread (q3 - q1) / median and that
spread as a fraction of the metric's bound in BENCHMARK.json. The host probe
times of every run (a fixed single-thread loop timed at the start and the end
of the run) are printed beside them, so a slow window shows in the record.
The records of all runs are also in .bench_build/records.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    here = os.path.dirname(os.path.abspath(__file__))
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--trace", "0"],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            sys.stderr.write(out.stderr[-2000:])
            sys.exit("run with seed %d failed" % seed)
        rec, res = json.loads(lines[-2]), json.loads(lines[-1])
        results.append((seed, rec, res))
        print("seed %3d  correct=%s attempted=%d failed=%d  probe %.3f s -> %.3f s  %s" % (
            seed, res["correct"], res["attempted"], res["failed"], rec["host_probe_start_s"],
            rec["host_probe_end_s"],
            "  ".join("%s=%.6g" % (k, v["value"]) for k, v in sorted(res["metrics"].items()))),
            flush=True)

    print("\n%-14s %14s %14s %14s %8s %6s %8s" % ("metric", "median", "q1", "q3", "spread", "bound",
                                                   "of bound"))
    worst = 0.0
    for name in sorted(results[0][2]["metrics"]):
        vals = [r[2]["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name, {}).get("bound")
        frac = spread / bound if bound else float("nan")
        if bound and name != "setup_s":
            worst = max(worst, frac)
        print("%-14s %14.6g %14.6g %14.6g %8.4f %6s %8.3f" % (name, med, q1, q3, spread, bound, frac))
    shares = {r[2]["failed"] / r[2]["attempted"] for r in results}
    print("\nfailed share per run: %s; all correct: %s; worst spread/bound (setup_s aside): %.3f" % (
        sorted(shares), all(r[2]["correct"] for r in results), worst))


if __name__ == "__main__":
    main()
