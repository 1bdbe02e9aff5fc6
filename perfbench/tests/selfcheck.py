#!/usr/bin/env python3
"""Self-check of the benchmark at tiny size.

    python3 perfbench/tests/selfcheck.py

Builds the program and the driver if needed, generates tiny inputs from a
fixed seed, runs all four workloads with tracing on in one JVM, and fails
unless every workload ran, every correctness check passed, every metric
BENCHMARK.json declares was reported, and the run left no file behind
outside perfbench/target.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

WORKLOADS = ["load_fresh", "load_cohort2", "genic_qc", "table_dml"]


def checkout_files():
    """Every file of the checkout outside .git and the build directories."""
    out = set()
    for d, dirs, fs in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in (".git", "target")]
        out |= {os.path.relpath(os.path.join(d, f), ROOT) for f in fs}
    return out


def main():
    cp = run.build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    want.discard("setup_s")  # run.py measures set-up from outside the JVM
    before = checkout_files()
    runs = os.path.join(BENCH, "target", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selfcheck-", dir=runs)
    t0 = time.monotonic()
    problems = []
    try:
        os.makedirs(os.path.join(work, "tmp"))
        inputs = os.path.join(work, "inputs")
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"),
                        "--seed", "3", "--out", inputs, "--scale", "tiny"],
                       check=True)
        _, results = run.run_jvm(cp, [
            "--workload", ",".join(WORKLOADS), "--seed", "3", "--seconds", "0",
            "--trace", "1", "--inputs", inputs, "--work", work], work,
            time.monotonic() + 600)
        seen = [r["workload"] for r in results]
        if seen != WORKLOADS:
            problems.append(f"workloads run: {seen}")
        for r in results:
            bad = [k for k, ok in r["checks"].items() if not ok]
            if not r["correct"] or bad:
                problems.append(f"{r['workload']}: failed {r['failed']} of "
                                f"{r['attempted']}; checks {bad}")
            missing = sorted(want - set(r["metrics"]))
            if missing:
                problems.append(f"{r['workload']}: missing metrics {missing}")
            print(f"{r['workload']}: {len(r['checks'])} checks passed, "
                  f"{r['attempted']} operations")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    left = sorted(checkout_files() - before)
    if left:
        problems.append(f"files left in the checkout: {left[:10]}")
    print(f"self-check took {time.monotonic() - t0:.0f} s")
    if problems:
        print("SELF-CHECK FAILED\n  " + "\n  ".join(problems))
        sys.exit(1)
    print("SELF-CHECK OK")


if __name__ == "__main__":
    main()
