#!/usr/bin/env python3
"""graft benchmark: seeded workloads timed through graft's public entry points.

Usage (from the repository root):
  python3 kgbench/run.py --workload extract_mix|kg_graph \
      --seed N --seconds S --trace 0|1

Builds graft and the harness from source (kgbench/build.py), starts one
JVM with Spark on local[min(4, nproc)], generates the workload's inputs
from the seed, warms up, runs repetitions back to back for S seconds
(closed loop, one job at a time) and checks the outputs. The last stdout
line is the result: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it carries host
diagnostics. Exits 1 when a correctness check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("extract_mix", "kg_graph")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode (None if absent)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from a checkout of the repository")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath, jars = build.build(build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(args, classpath, jars, work)
        # registry query outputs written by the warm-up, compared in DuckDB
        oracle_errors = []
        if os.path.exists(os.path.join(work, "check", "oracle_sql.json")):
            import oracle
            oracle_errors = oracle.compare(os.path.join(work, "docs"), os.path.join(work, "check"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = declared_metrics(args.trace)
    if declared is not None and sorted(declared) != sorted(result["metrics"]):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(declared) ^ set(result['metrics']))}", 5)
    for e in result["errors"] + oracle_errors:
        print(f"kgbench: check failed: {e}", file=sys.stderr)
    correct = bool(result["correct"]) and not oracle_errors
    failed = int(result["failed"]) + len(oracle_errors)
    print(json.dumps({"diagnostics": result["diagnostics"], "workload": args.workload, "seed": args.seed}))
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]), "failed": failed,
                      "metrics": result["metrics"]}))
    sys.exit(0 if correct else 1)


def run_jvm(args, classpath, jars, work):
    cpus = max(1, min(4, os.cpu_count() or 1))
    # a fixed heap and young generation under the throughput collector keep
    # GC sizing decisions out of the run-to-run spread of times and RSS
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", "-Xss8m", "-XX:CICompilerCount=6", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]), "kgbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(cpus),
            "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", 3)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode} and no result", 4)
    return json.loads(lines[-1])


if __name__ == "__main__":
    main()
