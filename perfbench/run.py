#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--trace-out <file>] [--scale bench|tiny|reference]

Workloads (perfbench/README.md says why each was chosen):
  load_fresh    --runLoad of cohort A into an empty store
  load_cohort2  --runLoad of cohort B onto the store built from A
  genic_qc      --genicQc of A against the A store, gene release r2
  table_dml     SQL DELETE/UPDATE/MERGE and pruned reads on the layout table

The first run in a checkout builds the program and the driver from source
with sbt (perfbench/build.sbt); later runs reuse the build while no source
changed. Each run generates its inputs from --seed, starts one JVM on
local[4] (set-up time is from its start until the session is up and the
inputs are registered), checks the program's outputs, and prints one JSON
line last: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. All run state lives in a temporary
directory under perfbench/target/runs and is removed at exit.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("load_fresh", "load_cohort2", "genic_qc", "table_dml")
END_TO_END = {"setup_s": "s", "job_s": "s", "store_bytes": "B"}
RUN_DEADLINE_S = 175
BUILD_DEADLINE_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("_ratio", "_skew", "_amplification")) or \
            name.endswith("per_byte_changed"):
        return "ratio"
    return "count"


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the driver; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not next to "
             "perfbench/; run from the root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True,
                           timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    lines = [ln.strip() for ln in p.stdout.splitlines()
             if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if not lines:
        fail("build gave no classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_jvm(cp, argv, work, deadline):
    """Start one driver JVM; return (seconds to PERFBENCH_READY, the result
    of each workload it ran)."""
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + argv
    log = open(os.path.join(work, "jvm.log"), "a")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                         text=True)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
    timer.start()
    ready, results = None, []
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_READY"):
                ready = time.perf_counter() - t0
            elif line.startswith("PERFBENCH_RESULT "):
                results.append(json.loads(line[len("PERFBENCH_RESULT "):]))
        code = p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if code != 0 or ready is None:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"driver JVM exited with {code}")
    return ready, results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--scale", default="bench",
                    help="input size (gen.py --scale); the benchmark uses "
                         "bench")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its state (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    runs = os.path.join(HERE, "target", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        inputs = os.path.join(work, "inputs")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--seed", str(args.seed), "--out", inputs,
                        "--workload", args.workload, "--scale", args.scale],
                       check=True)
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--inputs", inputs, "--work", work]
        trace_file = os.path.join(work, "trace.json")
        ready, results = run_jvm(cp, argv + ["--trace-out", trace_file], work,
                                 deadline)
        if not results:
            fail("driver JVM printed no result")
        res = results[-1]
        got = dict(res["metrics"], setup_s=ready)
        if args.trace:
            names = sorted(k for k in got if k not in END_TO_END)
            metrics = {k: {"value": got[k], "unit": unit_of(k)} for k in names}
        else:
            metrics = {k: {"value": got[k], "unit": u}
                       for k, u in END_TO_END.items()}
        if args.trace_out:
            with open(trace_file) as fh:
                doc = json.load(fh)
            doc["setup_s"] = ready
            with open(args.trace_out, "w") as fh:
                json.dump(doc, fh, indent=1, sort_keys=True)
                fh.write("\n")
        failed_checks = [k for k, ok in res["checks"].items() if not ok]
        if failed_checks:
            print("perfbench: failed checks: " + "; ".join(failed_checks),
                  file=sys.stderr)
        print(json.dumps({"correct": res["correct"],
                          "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
