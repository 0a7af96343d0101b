#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 12 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt compiles the engine from the checkout's own build);
later runs reuse that build until a source or build file changes. The
benchmark itself runs in one plain JVM. Every line it prints goes to
standard output; the last line is the JSON result. Build and Spark logs go
to standard error. The run reads and writes only inside the checkout:
inputs, lakes and Spark's scratch space live in a work directory under
perfbench/target that is removed when the run ends, and the trace of a
traced run is kept under perfbench/target/traces.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ("etl_batch", "lake_read", "lake_write")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.args")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap keeps peak resident memory from depending on when the
# collector chose to grow the heap.
JVM_FLAGS = ["-Xms1g", "-Xmx1g"]
# The lake workloads are dominated by driver-side planning and commit code
# that the C2 compiler reaches only late in a short run, so their latencies
# drift downward through it; stopping at C1 makes them steady from the
# start. etl_batch's time is in generated data-path code, where C1 code is
# about twice as slow as C2 code, so it keeps the default compilers.
C1_ONLY = {"lake_read", "lake_write"}


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    """Newest modification time over every file the build reads."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = [d for d in dirnames if d != "target"]
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeLaunch"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(3, "build timed out")
    if proc.returncode != 0 or not os.path.isfile(LAUNCH):
        fail(3, f"build failed (sbt exit {proc.returncode})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail(2, "--seconds must be positive")

    # The engine is built from the checkout's own sources; without them
    # there is nothing to measure.
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"no engine sources under {ROOT}")
    build()

    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(TARGET, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    jit = ["-XX:TieredStopAtLevel=1"] if args.workload in C1_ONLY else []
    cmd = ["java", "@" + LAUNCH, *JVM_FLAGS, *jit, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--traces", traces]
    last = ""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    # a hung JVM is killed, so the run always ends inside its time limit
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    # a run stopped from outside stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(4, f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(last)
    except ValueError:
        fail(4, "benchmark printed no JSON result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(4, "malformed result")


if __name__ == "__main__":
    main()
