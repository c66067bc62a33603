#!/usr/bin/env python3
"""Builds the benchmark: compiles the engine's sources (src/main/scala) and the
benchmark's own (perfbench/scala) into one class directory with the Scala
compiler that ships with Spark. A build is reused while the sources and the
compiler are unchanged.

Run from the root of the repository:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not os.path.isdir(RESOURCES):
        raise BuildError(f"missing resource directory {os.path.relpath(RESOURCES, ROOT)}")
    return sorted(found)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compiles if needed; returns (classpath entries, source fingerprint)."""
    jars = spark_jars()
    srcs = sources()
    fp = fingerprint(srcs, jars)
    classpath = [CLASSES, RESOURCES, os.path.join(jars, "*")]
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return classpath, fp
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("the Spark distribution has no Scala 2.13 compiler jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(fp)
    return classpath, fp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
