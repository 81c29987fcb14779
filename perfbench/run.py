#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage:
  python3 perfbench/run.py --workload {lookup,bulk,clean,ingest} \
      --seed N --seconds S --trace {0,1}

Builds the program and the benchmark on first use (perfbench/build.py),
runs the workload in a fresh JVM with a fresh Spark session and a fresh
work directory, prints the run's notes and host noise, and prints one JSON
result line last. Exits non-zero, printing no result, if the build or the
run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lookup", "bulk", "clean", "ingest")
RUN_TIMEOUT_S = 170


def host_sample():
    """(cpu jiffies by field, 1/5/15-min load) of the whole host."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return cpu, load


def host_line(start, end):
    # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
    d = [b - a for a, b in zip(start[0], end[0])]
    user = d[0] + d[1]
    steal = d[7] if len(d) > 7 else 0
    pct = 100.0 * steal / user if user else 0.0
    return (f"host: steal_pct_of_user={pct:.1f} load_start={'/'.join(start[1])} "
            f"load_end={'/'.join(end[1])} cpus={os.cpu_count()}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    build.build()
    work = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_cmd(work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    start = host_sample()
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, cwd=build.ROOT, env=build.child_env())

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: timed out after {RUN_TIMEOUT_S} s")
    end = host_sample()
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        os.replace(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write(err[-8000:])
    lines = out.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        sys.exit(f"run: no result (exit code {proc.returncode})")
    for line in lines[:-1]:
        print(line)
    print(f"run: wall_s={time.time() - t0:.1f} "
          f"cache_warnings={err.count('Asked to cache already cached data')}")
    print(host_line(start, end))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
