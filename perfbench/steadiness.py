#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread and record it.

Runs every workload (or the ones named) once per seed, untraced, and
for each end-to-end metric reports the median, the first and third
quartiles (statistics.quantiles(values, n=4)) and the spread: the
distance between the quartiles as a share of the median. A metric is
steady when its spread is below a third of its bound in BENCHMARK.json.

Usage: python3 perfbench/steadiness.py [--runs 10] [--first-seed 101]
                                       [--out perfbench/STEADINESS.json]
                                       [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("workloads", nargs="*")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=101)
    p.add_argument("--out", default=os.path.join(BENCH_DIR, "STEADINESS.json"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"runs": args.runs, "first_seed": args.first_seed,
              "run_seconds": bench["run_seconds"], "failed_runs": [], "workloads": {}, "run_wall_s": {}}
    failures = record["failed_runs"]
    for w in workloads:
        samples = {name: [] for name in bounds}
        wall = []
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall.append(time.monotonic() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines or not json.loads(lines[-1])["correct"]:
                failures.append(f"{w} seed {seed}")
                print(f"{w} seed {seed} FAILED: {proc.stderr[-2000:]}", flush=True)
                continue
            result = json.loads(lines[-1])
            for name in bounds:
                samples[name].append(result["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v[-1]:.4g}" for k, v in samples.items()), flush=True)
        stats = {}
        for name, values in samples.items():
            s = spread(values)
            s["bound"] = bounds[name]
            s["steady"] = s["spread"] < bounds[name] / 3
            s["values"] = values
            stats[name] = s
            print(f"  {name}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"bound {bounds[name]} {'ok' if s['steady'] else 'WIDE'}", flush=True)
        record["workloads"][w] = stats
        record["run_wall_s"][w] = wall
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
