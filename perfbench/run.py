#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark
process from source (`build.py`), generates the seeded inputs (`gen.py`), runs one
benchmark process for the workload (`scala/perfbench`), checks every
output against a reference (`check.py`) and prints one line per metric,
then, as the last line, a JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` they are the per-layer ones from a traced run.
Exits non-zero, without a result line, when the run cannot be made.
Everything it writes goes under `.bench_build/` in the repository.

Workloads:
  keyed_batch    closed loop, one client: façade keyed operators, curation
                 clean and dedup, and graph iterations
  stream_window  open loop over a fixed-rate ladder: micro-batches and state
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
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CORES = 4
SETUPS = 2
JVM_TIMEOUT_S = 160
WORKLOADS = ("keyed_batch", "stream_window")

# Same module openings as the repository build uses for Spark on JDK 17.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(java_opts, workload, seconds, trace, inputs, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # spark.* system properties keep Spark's scratch space and warehouse
    # inside the run directory; they are deployment paths, not tuning
    cmd += ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            *java_opts, "perfbench.Main",
            "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--inputs", inputs, "--run-dir", run_dir, "--setups", str(SETUPS),
            "--cores", str(CORES)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S, cwd=run_dir)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark process timed out after {JVM_TIMEOUT_S} s; "
                             f"log in {run_dir}/jvm.log")
    raw = os.path.join(run_dir, "raw.json")
    if proc.returncode != 0 or not os.path.exists(raw):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"benchmark process failed (exit {proc.returncode}):\n{tail}")
    with open(raw) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")

    java_opts, build_s = build.build(BUILD_DIR)
    if build_s is not None:
        print(f"build: {build_s:.1f} s")
    inputs, manifest, gen_s = gen.ensure(os.path.join(BUILD_DIR, "inputs"),
                                         args.workload, args.seed, args.seconds)
    print(f"generate: {'reused' if gen_s is None else f'{gen_s:.2f} s'} ({inputs})")

    run_dir = os.path.join(BUILD_DIR, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw = run_jvm(java_opts, args.workload, args.seconds, args.trace, inputs, run_dir)

    t0 = time.perf_counter()
    con = check.connect(os.path.join(run_dir, "tmp"))
    if args.workload == "stream_window":
        result = metrics.stream_window(con, raw, inputs, run_dir, args.trace, CORES)
    else:
        result = metrics.keyed_batch(con, raw, inputs, run_dir, manifest, args.trace, CORES)
    con.close()
    print(f"check: {time.perf_counter() - t0:.2f} s")
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)

    for line in result.pop("lines"):
        print(line)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
