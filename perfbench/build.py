#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the harness (perfbench/scala) into .bench_build/classes with scalac, straight
from the Spark/Scala jars the engine builds against.

Usage: python3 perfbench/build.py   (from the repository root)

The compile is skipped when a stamp over every input file's path and bytes
matches the last successful build, so only the first run in a checkout pays
for it. Exits non-zero when the engine sources are absent or scalac fails.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark/Scala jar directory the engine builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    if os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open("build.sbt").read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
OUT = os.path.join(".bench_build", "classes")
STAMP = os.path.join(".bench_build", "classes.stamp")


def sources():
    roots = [os.path.join("src", "main", "scala"),
             os.path.join("perfbench", "scala")]
    files = []
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, the engine's resources (the
    chunkcsv DataSourceRegister entry) and the Spark jars."""
    return os.pathsep.join([OUT, os.path.join("src", "main", "resources"),
                            os.path.join(SPARK_JARS, "*")])


def build():
    files = sources()
    if not any(f.startswith(os.path.join("src", "main")) for f in files):
        print("build: no engine sources under src/main/scala", file=sys.stderr)
        return 2
    if not os.path.isdir(SPARK_JARS):
        print(f"build: Spark jars not found at {SPARK_JARS}", file=sys.stderr)
        return 2
    want = stamp_of(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return 0
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    argfile = os.path.join(".bench_build", "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", OUT, "-cp", os.path.join(SPARK_JARS, "*"),
           "@" + argfile]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        print("build: scalac failed", file=sys.stderr)
        return 1
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(build())
