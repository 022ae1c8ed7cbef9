#!/usr/bin/env python3
"""Compiles the engine (src/main/scala) together with the benchmark
(perfbench/src) into .bench_build/classes with the Scala compiler that
ships among the Spark jars the project's build.sbt compiles against
($SPARK_HOME/jars if build.sbt names none). Nothing is fetched. A
content stamp over every source skips the compile when nothing changed.

Run from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
OUT = ".bench_build/classes"


def spark_jars():
    """The jars directory the project's own build compiles against
    (build.sbt's unmanagedBase), else $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    found = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling first if it is stale."""
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at {jars} (set SPARK_HOME)")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return OUT
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(os.path.dirname(OUT), "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + args_file]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    return OUT


if __name__ == "__main__":
    print(build())
