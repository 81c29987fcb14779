#!/usr/bin/env python3
"""Run each workload several times, each with another seed, and print every
end-to-end metric's median, quartiles and quartile spread (q3 - q1, as a
share of the median) next to the bound in BENCHMARK.json.

Usage:
  python3 perfbench/steadiness.py [--workloads lookup,bulk] [--runs 10]
                                  [--first-seed 1]

Runs are sequential; each is one `perfbench/run.py` call with the run
length from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for wl in args.workloads.split(","):
        values, shares = {}, set()
        for seed in range(args.first_seed, args.first_seed + args.runs):
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: run failed ({proc.returncode})\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            wall = next((l.split()[1] for l in lines if l.startswith("run: wall_s=")), "?")
            print(f"{wl} seed {seed} {wall} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()),
                  flush=True)
            shares.add(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            print(f"  {wl:6s} {k:15s} median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
                  f"spread={(q3 - q1) / med:.3f} bound={bounds.get(k)}")
        print(f"  {wl:6s} failed share: {sorted(shares)}", flush=True)


if __name__ == "__main__":
    main()
