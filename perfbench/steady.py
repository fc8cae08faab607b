#!/usr/bin/env python3
"""Steadiness report: run every workload several times, one seed each, and
print for every end-to-end metric its median, quartiles and spread
((Q3 - Q1) / median, Python's statistics.quantiles(n=4)) as a share of the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--seed0 1]

It is how the bounds were set and re-proves them: every spread should stay
below a third of its bound (setup_s excepted; its bound covers the shift of
its median between two sets of runs).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    for w in names:
        raw[w] = []
        for seed in range(a.seed0, a.seed0 + a.runs):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                   "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["seed"], res["wall_s"] = seed, time.time() - t0
            raw[w].append(res)
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{'workload':14s} {'metric':16s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} "
          f"{'bound':>6s} {'/bound':>6s}")
    for w, runs in raw.items():
        shares = {r["failed"] / r["attempted"] for r in runs}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            print(f"{w:14s} {m:16s} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f} {bound:6.2f} "
                  f"{spread / bound:6.2f}")
        print(f"{w:14s} failed share per run: {sorted(shares)}; correct in every run: "
              f"{all(r['correct'] for r in runs)}")


if __name__ == "__main__":
    main()
