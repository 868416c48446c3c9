#!/usr/bin/env python3
"""Benchmark of the graft KG engine: builds it from source, stages seeded
inputs, runs one workload and prints one JSON result as the last line.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Workloads: kg_batch, api_analyze (see README.md).
Exits non-zero, printing no result, when the build, the staging, the run or
the output checks' own machinery fails.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
CLASSPATH = os.path.join(TARGET, "bench.classpath")

RUN_BUDGET_S = 175

DEFAULT_SEED = 1
HOLDOUT_SEED = 907

WORKLOADS = ("kg_batch", "api_analyze")

BUILD_INPUTS = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
    os.path.join(HERE, "src", "main"),
]

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, cwd, timeout, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout or exit."""
    if timeout <= 0:
        fail("no time left in the run budget")
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} ... {cmd[-1]} timed out after {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        if not os.path.exists(top):
            fail(f"missing build input {os.path.relpath(top, ROOT)}")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compiles engine and benchmark once per source state; returns the classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved = f.read().split("\n")
        if len(saved) >= 2 and saved[0] == stamp:
            return saved[1]
    print("perfbench: building with sbt", file=sys.stderr)
    os.environ.setdefault("COURSIER_MODE", "offline")  # dependencies come from the local cache
    code, out = run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                     "compile", "export Runtime/fullClasspath"],
                    HERE, 600, stdout=subprocess.PIPE)
    lines = [l.strip() for l in (out or "").splitlines()]
    cps = [l for l in lines if l and all(os.path.isabs(p) and os.path.exists(p)
                                         for p in l.split(os.pathsep))]
    if code != 0 or not cps:
        sys.stderr.write(out or "")
        fail(f"build failed (sbt exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    return cps[-1]


def java(cp, args, timeout, stdout=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the parallel collector without adaptive sizing grows the heap with what
    # the program allocates and keeps, not with how busy the machine was, so
    # peak RSS is steady; 1 GB to start, so the heap does not grow all run
    cmd = (["java", "-Xms1g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + opens + ["-cp", cp, "perfbench.Main"] + args)
    # setup_s counts from here: the JVM measures the time to ready against it
    launched_us = time.time_ns() // 1000
    return run(cmd + ["--launched-us", str(launched_us)], ROOT, timeout, stdout)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="input size in pages (default per workload)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    cp = classpath()
    # a run ends within RUN_BUDGET_S of its start, the build excepted
    deadline = time.monotonic() + RUN_BUDGET_S
    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--work", WORK] + (["--size", str(a.size)] if a.size else [])
    code, _ = java(cp, ["stage"] + common, deadline - time.monotonic(), stdout=sys.stderr)
    if code != 0:
        fail(f"staging failed (exit {code})")
    code, out = java(cp, ["run"] + common + ["--trace", str(a.trace)],
                     deadline - time.monotonic(), stdout=subprocess.PIPE)
    lines = (out or "").rstrip("\n").split("\n")
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out or "")
        fail(f"run failed (exit {code})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
