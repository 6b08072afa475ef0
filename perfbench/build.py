#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/scala) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

A build is skipped when the stamp of every source file (path and content)
matches the last successful build. Usage: python3 perfbench/build.py
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
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile when needed; return the classpath to run with."""
    srcs = sources()
    if not any(s.startswith(SOURCE_ROOTS[0] + os.sep) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and os.path.isdir(CLASSES):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", jars, "-nowarn"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    print(build())
