#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the benchmark (perfbench/src) into perfbench/target/classes with the
Scala compiler that ships among the Spark jars.

The Spark jar directory is the one the root build.sbt names as its
`unmanagedBase`, or $SPARK_HOME/jars. A build is reused while a hash of
every source file and of the jar list is unchanged.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"))
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench build: {msg}\n")
    sys.exit(2)


def spark_jars() -> str:
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def sources() -> list:
    if not os.path.isdir(SOURCE_DIRS[0]):
        fail(f"engine sources not found at {os.path.relpath(SOURCE_DIRS[0], os.getcwd())}")
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build() -> str:
    """Compile when the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    staging = os.path.join(TARGET, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", os.path.join(jars, "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"scalac exited {r.returncode}")
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(staging, CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
