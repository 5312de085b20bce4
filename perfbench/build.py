#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes-<source hash>/ at the checkout root.

Usage: python3 perfbench/build.py        (prints the classes directory)

A build is reused only when every source file hashes the same, so a changed
engine is always rebuilt. Spark is found at $SPARK_HOME, else /opt/spark.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources not found at {engine}")
    found = []
    for base in (engine, os.path.join(ROOT, "perfbench", "src")):
        for d, _, names in os.walk(base):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build():
    """Return the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    try:
        r = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.rename(tmp, out)
    for name in os.listdir(BUILD_DIR):  # builds of older sources
        if name.startswith("classes-") and os.path.join(BUILD_DIR, name) != out:
            shutil.rmtree(os.path.join(BUILD_DIR, name), ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
