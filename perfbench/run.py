#!/usr/bin/env python3
"""Benchmark entry point for the jobannotationsspark pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt when the sources
changed since the last build (output under .bench_build/), then runs one
workload in a fresh JVM at local[nproc - 1]. Spark's log goes to stderr; the
per-workload metrics are printed by name on stdout, and the last stdout line
is the JSON result. Everything the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
WORKLOADS = ("kg_build", "dedup_batch", "dedup_daily", "kg_query")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Heap of the single local-mode JVM (Spark's driver and executors share it).
HEAP = "3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    digest = source_digest()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                            "writeLaunch"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        fail("build failed (sbt exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def host_facts():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return cores, mem_kb // 1024


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in %s" % ROOT)
    ensure_built()
    with open(LAUNCH) as f:
        opts, cp = f.read().split("\n--\n")
    opts = [o for o in opts.split("\n") if o]
    cores, mem_mb = host_facts()
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + opts + ["-cp", cp.strip(), "graft.perfbench.Main",
                     "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--nproc", str(cores), "--mem-mb", str(mem_mb),
                     "--work", work, "--expected", os.path.join(HERE, "expected.json"),
                     "--trace-out", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 3
        print("perfbench: run exceeded %d s and was stopped" % RUN_TIMEOUT_S, file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
