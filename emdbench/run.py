#!/usr/bin/env python3
"""Run one workload of the EMD similarity-join benchmark.

    python3 emdbench/run.py --workload cube30-select --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program and the benchmark
from source on first use (emdbench/build.py), then runs one JVM that
generates the workload from the seed, measures for --seconds seconds,
checks every output, prints one line per metric and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 1 prints the per-layer metrics instead of the end-to-end ones.
Exit code: 0 when every check passed, 1 when an operation failed, 2 or
more when the run itself could not complete (no JSON line then).
"""
import argparse
import json
import os
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["cube30-select", "line8-dense"]
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the program's
# own build.sbt; org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--plant", choices=["drop", "perturb", "throw"],
                    help="self-test only: corrupt one timed threshold operation")
    ap.add_argument("--gen-only", metavar="DIR", help="write the seeded inputs to DIR and exit")
    a = ap.parse_args()

    os.makedirs(build.BUILD, exist_ok=True)
    classpath = build.build()
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation: the resident high-water mark then
    # follows what the run keeps live, not the collector's resizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-Xss16m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "emdbench.Main", "--root", ROOT, "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace]
    if a.plant:
        cmd += ["--plant", a.plant]
    if a.gen_only:
        cmd += ["--gen-only", os.path.abspath(a.gen_only)]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code < 0:
        print(f"run: the benchmark JVM was killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    if a.gen_only:
        return code
    try:
        res = json.loads(last)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print(f"run: no result line (JVM exit code {code})", file=sys.stderr)
        return code or 4
    return code


if __name__ == "__main__":
    sys.exit(main())
