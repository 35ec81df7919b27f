#!/usr/bin/env python3
"""Build file of the benchmark: compiles the loader's main sources
(src/main/scala) together with the benchmark's own (perfbench/src) using
the Scala compiler that ships in the Spark distribution's jars directory:
$SPARK_HOME/jars, else the `unmanagedBase` the project's build.sbt names.
Output goes to .bench_build/perfbench/classes and is reused while the
sources are unchanged.

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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("build: set SPARK_HOME, or name unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, ROOT)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    cp = os.path.join(jars, "*")
    srcs = sources()
    stamp = stamp_of(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES + os.pathsep + cp
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    print(build())
