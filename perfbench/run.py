#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload ingest|query|refresh --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the root of a checkout. Builds the engine and the benchmark
from source on first use (see build.py), runs one workload in a fresh
JVM, and prints every metric by name with its unit followed, as the last
line, by one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Exits non-zero, without a result line, when the build or the
run fails, and with 1 after the result line when an output check failed.
Results and traces are kept under .bench_build/results.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# Spark on JDK 17 needs these outside spark-submit (see build.sbt).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
HEAP = "3g"
TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["ingest", "query", "refresh"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--size", default="full", choices=["full", "tiny"])
    a = p.parse_args()
    try:
        classes = build.ensure(ROOT)
        jars = build.spark_jars(ROOT)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    results = os.path.join(ROOT, ".bench_build", "results")
    work = os.path.join(ROOT, ".bench_build", "work", str(os.getpid()))
    os.makedirs(results, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties")]
           + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size,
              "--out", results, "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        rc = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
