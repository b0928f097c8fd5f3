#!/usr/bin/env python3
"""Self-test of the benchmark's exact counters.

    python3 perfbench/selftest.py

Runs the traced benchmark twice per workload with seed 7 and asserts
that the counters which must not depend on timing (pipeline.scans,
pipeline.tasks, io.files_written, streaming.batches) repeat exactly. Exits
non-zero on any difference or failed run.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ["pipeline.scans", "pipeline.tasks", "io.files_written", "streaming.batches"]
WORKLOADS = ["mixed_to_table", "giants_split"]
SEED = 7


def traced(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "3", "--trace", "1"],
                       cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload}: traced run failed (exit {p.returncode})\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    return {k: res["metrics"][k]["value"] for k in EXACT}


def main():
    bad = 0
    for w in WORKLOADS:
        a, b = traced(w, SEED), traced(w, SEED)
        for k in EXACT:
            ok = a[k] == b[k]
            bad += not ok
            print(f"{'ok  ' if ok else 'DIFF'} {w} {k}: {a[k]} / {b[k]}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
