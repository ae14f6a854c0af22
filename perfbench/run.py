#!/usr/bin/env python3
"""Benchmark entry point.

Builds the engine and the harness from source (perfbench/Makefile), then
runs one workload in a fresh JVM and relays its output. The last line of
standard output is one JSON object with the keys correct, attempted, failed
and metrics. Run from the root of a checkout:

    python3 perfbench/run.py --workload feeds-ivm --seed 1 --seconds 10 --trace 0

Everything the run writes goes under .bench_build/ in the checkout. The
workloads are defined in perfbench/src/perfbench/ and described, with the
layer map, in perfbench/layers.json.
"""
import argparse
import os
import shutil
import subprocess
import sys

WORKLOADS = ["dashboard-20eps", "feeds-ivm", "registry-sf0.1"]
OUT = ".bench_build"
# One run must end within 180 s; the build (first run only) has its own budget.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    return jars if jars and os.path.isdir(jars) else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir("src/main/scala") or not os.path.isfile("perfbench/Makefile"):
        print("perfbench: run from the root of a checkout that holds src/main/scala",
              file=sys.stderr)
        return 2

    jars = spark_jars()
    if jars is None:
        print("perfbench: Spark not found (set SPARK_HOME)", file=sys.stderr)
        return 2

    build = subprocess.run(["make", "-s", "-f", "perfbench/Makefile",
                            "SPARK_JARS=" + jars],
                           stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if build.returncode != 0:
        print("perfbench: build failed", file=sys.stderr)
        return 1

    for d in ("tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    root = os.getcwd()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP] + opens + [
        "-Djava.io.tmpdir=" + os.path.join(root, OUT, "tmp"),
        "-Dspark.local.dir=" + os.path.join(root, OUT, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(root, OUT, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true",
        "-cp", ":".join([os.path.join(OUT, "bench-classes"),
                         os.path.join(OUT, "engine-classes"),
                         jars + "/*"]),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", os.path.join(OUT, "out"),
    ]
    try:
        run = subprocess.run(cmd, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 1
    return run.returncode


if __name__ == "__main__":
    sys.exit(main())
