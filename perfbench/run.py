#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload <etl_reference|table_lifecycle|curation_dedup>
                           --seed <n> --seconds <s> --trace <0|1>
                           [--scale <x>] [--corrupt 0|1]

Builds the engine and the benchmark program from source (see build.py), runs the
workload in one JVM (a local[nproc] Spark session driven by one
closed-loop client thread), and prints the input sizes, sample counts
and, as the last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics, computed from the span file the traced
run writes under .bench_build/traces/. Exits non-zero when any output
check fails or the run breaks.

--scale multiplies every input size (tests use a tiny scale); --corrupt 1
makes the benchmark expect a deliberately wrong output, so its checks must
fail.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_reference", "table_lifecycle", "curation_dedup")
# a run must end well inside 180 s
RUN_TIMEOUT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_jvm(args, work, events, spans):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS is then the heap plus native
    # memory, not an accident of when the collector grew the heap
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", str(args.scale), "--corrupt", str(args.corrupt),
            "--work", work, "--events", events, "--spans", spans]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    return code, log_path


def main(argv):
    args = parse_args(argv)
    try:
        build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    runs = os.path.join(build.BUILD_DIR, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(build.BUILD_DIR, "traces")
    os.makedirs(traces, exist_ok=True)
    events = os.path.join(work, "events.jsonl")
    spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.spans.jsonl")
    try:
        code, log_path = run_jvm(args, work, events, spans)
        evs = metrics.read_jsonl(events)
        for e in evs:
            if e.get("ev") in ("error", "check"):
                print(f"[{e['ev']}] {e.get('op', e.get('name'))}: {e.get('detail')}", file=sys.stderr)
        if code is None:
            print(f"run: timed out after {RUN_TIMEOUT_S}s (log {log_path})", file=sys.stderr)
            return 1
        result = [e for e in evs if e.get("ev") == "result"]
        if not result:
            print(f"run: the benchmark program failed (exit {code}); last log lines:", file=sys.stderr)
            with open(log_path, errors="replace") as fh:
                print("".join(fh.readlines()[-30:]), file=sys.stderr)
            return 1
        attempted, failed = result[-1]["attempted"], result[-1]["failed"]
        if args.trace:
            values = metrics.per_layer(args.workload, evs, metrics.read_jsonl(spans))
            wanted = metrics.declared("per_layer")
        else:
            values = metrics.end_to_end(args.workload, evs)
            wanted = metrics.declared("end_to_end")
        for line in metrics.describe(evs):
            print(line)
        out = {name: {"value": values[name], "unit": unit} for name, unit in wanted}
        correct = failed == 0 and code == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
