#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark
(perfbench/src) into .bench_build/classes, using the Scala compiler that
ships among Spark's jars ($SPARK_HOME/jars, else the directory build.sbt
names), so the build needs neither sbt nor a network.
It rebuilds only when a source file changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def sources():
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise BuildError(f"source directory {d} not found under {ROOT}")
        for base, _, files in os.walk(top):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory the program's own build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    raise BuildError("cannot locate the Spark jars: set SPARK_HOME")


def spark_jars(jar_dir):
    if not os.path.isdir(jar_dir):
        raise BuildError(f"Spark jars not found at {jar_dir} (set SPARK_HOME)")
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar among {jar_dir}")
    return jars


def ensure_built():
    """Compiles if needed; returns (classpath, source digest)."""
    files = sources()
    jar_dir = spark_jar_dir()
    jars = spark_jars(jar_dir)
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.digest")
    classpath = os.pathsep.join([classes, os.path.join(ROOT, RESOURCES), os.path.join(jar_dir, "*")])
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classpath, digest
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + files) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jar_dir, "*"),
             "scala.tools.nsc.Main", "@" + argfile],
            stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise BuildError(f"compilation failed (exit {rc}):\n{tail}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classpath, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
