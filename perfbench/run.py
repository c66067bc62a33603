#!/usr/bin/env python3
"""The graft benchmark. Runs one workload and prints one JSON result line last.

    python3 perfbench/run.py --workload verify_scan|maintain|lookup \
        --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the engine and the
benchmark from source (perfbench/build.py). --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer metrics and writes the span file
under .bench_build/perfbench/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("verify_scan", "maintain", "lookup")
# the run must end within 180 s of its start, build excluded
JAVA_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    """HEAD's commit when the checkout is a git work tree, else "unknown"."""
    git = os.path.join(build.ROOT, ".git")
    try:
        head = open(os.path.join(git, "HEAD")).read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        loose = os.path.join(git, ref)
        if os.path.isfile(loose):
            return open(loose).read().strip()
        for line in open(os.path.join(git, "packed-refs")):
            if line.rstrip().endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def manifest_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json asks of a run: every
    end-to-end metric with --trace 0, every per-layer metric with --trace 1."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    return {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        wanted = manifest_metrics(a.trace)
    except (OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: cannot read BENCHMARK.json: {e}")
    try:
        classpath, source_sha = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--traces", os.path.join(build.OUT, "traces"),
              "--commit", git_commit(), "--source", source_sha[:16]])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish within {JAVA_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        sys.exit(f"perfbench: {a.workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        sys.exit(f"perfbench: malformed result line: {lines[-1]}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        missing = sorted(set(wanted) - set(got))
        extra = sorted(set(got) - set(wanted))
        units = sorted(k for k in set(got) & set(wanted) if got[k] != wanted[k])
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: missing {missing}, "
                 f"extra {extra}, wrong unit {units}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
