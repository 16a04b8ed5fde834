#!/usr/bin/env python3
"""graft's benchmark: the mail-log path and the artifact suite.

    python3 perfbench/run.py --workload <tail|daily|suite> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py) if their sources changed, then runs one JVM
(perfbench/src/perfbench/Main.scala) that generates the workload's
inputs from the seed, measures for the given seconds, checks every
output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(its spans go to .bench_build/traces/). Workloads, metrics and the
layer map are described in perfbench/METRICS.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("tail", "daily", "suite")
# A run must end within 180 s of starting, building excluded.
RUN_LIMIT_S = 175


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    flags = build.build()
    t0 = time.monotonic()
    work = os.path.join(build.BUILD, "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(build.BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
    cmd = build.java_cmd(work, flags) + [
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work, "--out", out, "--spans", spans,
    ]
    try:
        # the JVM's stdout is Spark's, not ours: send it to stderr
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_LIMIT_S - (time.monotonic() - t0))
        if r.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM exited with {r.returncode}")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for msg in result.pop("failures", []):
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
