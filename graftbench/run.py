#!/usr/bin/env python3
"""The repo benchmark: one command, one JVM at local[nproc], one workload.

    python3 graftbench/run.py --workload suite|extract|clean --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the product and the
benchmark from source with sbt (graftbench/build.sbt) and caches the class
path under graftbench/out/; later runs reuse it while no source changed.
The last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced pass with --trace 1. The lines
before it are the per-operation record, the output checks and a table.
graftbench/README.md describes the workloads and every metric.

    python3 graftbench/run.py --pin-digests

re-pins graftbench/digests/suite-sf0.001.tsv from the current sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(BENCH, "data", "sf0.001")
DIGESTS = os.path.join(BENCH, "digests", "suite-sf0.001.tsv")
WORKLOADS = ("suite", "extract", "clean")
RUN_LIMIT_S = 175  # every run must end within 180 s
BUILD_LIMIT_S = 850  # a first run that builds may take 900 s

# Spark 4 on JDK 17 outside spark-submit needs these (the product's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(deadline):
    """Compile with sbt unless the cached class path matches the sources."""
    h = hashlib.sha256(BENCH.encode())  # the class path holds absolute paths
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "classpath.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    classpath = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def java(classpath, main, args, work, deadline):
    """Run one JVM in its own process group; kill the group at the deadline.
    Returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    cmd = (["java"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", classpath, main] + args)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run timed out", 4)
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-digests", action="store_true")
    a = ap.parse_args()
    if not a.pin_digests and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no product sources at {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a full checkout of the repository")
    if not os.path.isdir(DATA):
        fail(f"benchmark tables missing at {DATA}")
    if not a.pin_digests and not os.path.exists(DIGESTS):
        fail(f"pinned digests missing at {DIGESTS}")

    start = time.time()
    classpath = build(start + BUILD_LIMIT_S)
    cpus = len(os.sched_getaffinity(0))
    if a.pin_digests:
        work = os.path.join(WORK, "pin")
        os.makedirs(work, exist_ok=True)
        code, lines = java(classpath, "graft.bench.PinDigests",
                           [str(cpus), DATA, DIGESTS], work, time.time() + 900)
        print("\n".join(lines))
        sys.exit(code)

    # a fresh work directory per workload: generated inputs, stores, spans
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, lines = java(classpath, "graft.bench.BenchMain", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--work", work, "--data", DATA,
        "--digests", DIGESTS], work, time.time() + RUN_LIMIT_S)
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if code != 0 or not lines:
        print("\n".join(lines))
        fail(f"benchmark JVM exited with {code}", 5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line", 5)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
