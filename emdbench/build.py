#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (emdbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else that of the spark-submit on PATH: the
same jars the program's sbt build compiles against). A stamp over every
source and jar name skips the build when nothing changed.

    python3 emdbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: source directory {os.path.relpath(r, ROOT)} is missing")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jars():
    d = jars_dir()
    if not os.path.isdir(d):
        raise SystemExit(f"build: Spark jar directory {d} is missing (set SPARK_HOME)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def stamp(srcs, cp):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in cp:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    srcs, cp = sources(), jars()
    want = stamp(srcs, cp)
    runtime = CLASSES + os.pathsep + os.path.join(jars_dir(), "*")
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return runtime
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars_dir(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(cp),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return runtime


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
