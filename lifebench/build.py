#!/usr/bin/env python3
"""Build file of the lifecycle benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (lifebench/src) into
lifebench/.build/classes with the Scala compiler shipped in Spark's jars.
A build whose sources are unchanged is skipped.

    python3 lifebench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("lifebench: Spark jars not found at %s (set SPARK_HOME)" % jars)
    return jars


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("lifebench: program sources missing at %s; run from a "
                         "checkout of the repository" % PROGRAM_SRC)
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if any source changed; return the run classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("lifebench: compile failed (exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
