#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main Scala sources and
the benchmark's own (perfbench/src) into one class directory with the
Scala compiler that ships with Spark. No sbt, no network.

    python3 perfbench/build.py        # from the repo root

Outputs go to .bench_build/ at the repo root. A stamp of the sources'
contents skips the compile when nothing changed. The Spark jars are the
directory build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars.
"""
import glob
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


class BuildError(Exception):
    pass


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt unmanagedBase and $SPARK_HOME/jars are missing")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise BuildError(f"the program's sources are missing: {main}/graft")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build(quiet=False):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath(jars)
    if not quiet:
        print(f"[perfbench] compiling {len(srcs)} Scala files", flush=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("scalac failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        sys.exit(2)
