#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
using the Scala compiler that ships in the Spark distribution's jars, so
the build needs no dependency resolution.

    python3 perfbench/build.py            # prints the classpath

Output goes to `.bench_build/classes`. A stamp over the sources' paths,
sizes and contents skips the compile when nothing changed.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jars directory the repository's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the sources changed; return the run classpath."""
    classes = os.path.join(OUT, "classes")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("build: no build.sbt at the repository root")
    files = sources()
    spark = spark_jars()
    if not os.path.isdir(spark):
        raise SystemExit(f"build: no Spark jars at {spark}")
    jars = os.path.join(spark, "*")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return f"{classes}{os.pathsep}{jars}"
    os.makedirs(classes, exist_ok=True)
    for base, _, names in os.walk(classes, topdown=False):
        for n in names:
            os.remove(os.path.join(base, n))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return f"{classes}{os.pathsep}{jars}"


if __name__ == "__main__":
    print(build())
