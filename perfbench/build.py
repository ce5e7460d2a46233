#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, else the `unmanagedBase` that build.sbt
declares). No sbt, no network, nothing written outside the checkout.

Usage, from the root of a checkout:  python3 perfbench/build.py

The build is skipped when a stamp over every source file's path and bytes
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "resources"),
            os.path.join(HERE, "src", "main", "scala")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; returns the classpath to run with."""
    jars = spark_jars()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    files = sources()
    key = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == key:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*")]
    cmd += [f for f in files if f.endswith(".scala")]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    # resources ride along (META-INF/services registers the graft-fixture source)
    shutil.copytree(os.path.join(ROOT, "src", "main", "resources"), CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(key)
    return classpath


if __name__ == "__main__":
    build()
