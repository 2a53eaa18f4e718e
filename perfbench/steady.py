#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds per workload and
report, for each end-to-end metric, the distance between the first and
third quartile of its values as a share of their median.

Usage (from the root of a checkout):
  python3 perfbench/steady.py --out perfbench/runs/<name>.json [--first-seed 100]

Runs every workload of BENCHMARK.json ten times, one run after another
(never concurrently), each run with its own seed, and writes every run's
result line, contamination labels and the spreads to --out.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

RUNS = 10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    out = {"benchmark": bench, "runs": {}, "spread": {}}
    for name in (w["name"] for w in bench["workloads"]):
        runs = []
        for i in range(RUNS):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            rec = {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
                   "host": next((x.strip() for x in lines if x.strip().startswith("host:")), "")}
            if p.returncode == 0 and lines:
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr"] = p.stderr[-2000:]
            runs.append(rec)
            print(f"{name} seed {seed}: exit {p.returncode}, {wall:.0f} s", flush=True)
        out["runs"][name] = runs
        ok = [r["result"]["metrics"] for r in runs if "result" in r]
        out["spread"][name] = {
            m["name"]: round(stats.iqr_share([x[m["name"]]["value"] for x in ok]), 4)
            for m in bench["end_to_end"]} if len(ok) >= 4 else {}
        print(name, json.dumps(out["spread"][name]), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
