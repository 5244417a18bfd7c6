#!/usr/bin/env python3
"""Run-to-run spread and tracing overhead of the user-path benchmark.

From the repository root:

    python3 userbench/spread.py spread --workload dashboard --seeds 1-10
    python3 userbench/spread.py overhead --workload dashboard --seed 1

`spread` runs the benchmark once per seed and prints, per end-to-end
metric, the median and the quartile spread ((Q3 - Q1) / median, as
statistics.quantiles(n=4) gives the quartiles) next to the bound in
BENCHMARK.json. `overhead` runs one seed untraced and traced and prints
the traced end-to-end numbers minus the untraced ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-s{seed}-t{trace}.json")) as f:
        return result, json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1-10")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    secs = bench["run_seconds"]
    metrics = bench["end_to_end"]

    if args.cmd == "spread":
        values = {m["name"]: [] for m in metrics}
        for seed in seeds(args.seeds):
            result, record = run(args.workload, seed, secs, 0)
            steal = max(a["steal_frac"] for a in record["attempts"])
            print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
                  f"{result['attempted']} steal={steal:.3f}", flush=True)
            for name in values:
                values[name].append(result["metrics"][name]["value"])
        print(f"{'metric':24} {'median':>14} {'spread':>8} {'bound':>6}")
        for m in metrics:
            xs = values[m["name"]]
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            print(f"{m['name']:24} {med:14.4f} {(q3 - q1) / med:8.4f} {m['bound']:6.2f}")
    else:
        plain, _ = run(args.workload, args.seed, secs, 0)
        _, traced = run(args.workload, args.seed, secs, 1)
        print(f"{'metric':24} {'untraced':>14} {'traced':>14} {'overhead':>9}")
        for m in metrics:
            a = plain["metrics"][m["name"]]["value"]
            b = traced["end_to_end"][m["name"]]
            print(f"{m['name']:24} {a:14.4f} {b:14.4f} {(b - a) / a:9.3f}")


if __name__ == "__main__":
    main()
