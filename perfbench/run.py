#!/usr/bin/env python3
"""Build graft and the benchmark from source, then run one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload ann_search --seed 1 --seconds 12 --trace 0

The build is cached under .bench_build/, keyed by a hash of the source
tree, so only the first run in a checkout compiles. The last line of
standard output is the result object; the line before it is a report with
provenance and every metric under its workload-specific name.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ann_search", "vector_ingest", "corpus_curation")
SOURCE_DIRS = ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/run.py")
# sbt resolves only from its local caches; these flags keep it offline.
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
# Fixed, so runs on machines of different sizes measure the same JVM.
HEAP = "3g"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def tree_hash():
    h = hashlib.sha256()
    for top in SOURCE_DIRS:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(tree):
    """Compile once per source tree; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath-" + tree[:16])
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    flags = SBT_FLAGS + (["-Dsbt.repository.config=" + repos] if os.path.exists(repos) else [])
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(["sbt"] + flags + ["compile", "export Runtime/fullClasspath"],
                              cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                              text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed, see " + log_path)
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    tree = tree_hash()
    cp = build(tree)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "--add-modules", "jdk.incubator.vector"]
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--cores", str(cores),
              "--tree", tree, "--work", work,
              "--spans", os.path.join(BUILD, "traces", "%s-%d.jsonl" % (args.workload, args.seed))])
    log_path = os.path.join(BUILD, "last-run.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True, timeout=170)
    shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    for line in lines:
        print(line)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print("perfbench: workload exited %d after %.1f s" % (proc.returncode, time.time() - t0),
              file=sys.stderr)
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
