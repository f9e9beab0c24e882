#!/usr/bin/env python3
"""Build and run the graft benchmark.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload curation_ops --seed 1 --seconds 13 --trace 0

Workloads: curation_ops, warehouse_build_x8 (see BENCHMARK.json and
README.md here). The first run compiles the repository's main sources
together with the harness in this directory (sbt, Spark jars from
SPARK_HOME); later runs reuse the classes while no source has changed.
Everything a run writes stays under perfbench/.work and the sbt target
directories. The last line of standard output is the result JSON.

Extra options, for maintaining the benchmark itself:
  --expected FILE  check outputs against FILE instead of expected.tsv
  --record FILE    write the observed row counts and digests to FILE
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(WORK, "build.stamp")
HEAP = "7g"          # the tier-1 test heap: 4.0 GiB of Spark unified memory
RUN_LIMIT_S = 170    # a run must finish within 180 s once built
# The client compiler only (C1), and the serial collector. Every call
# in a run is overhead-bound: job launch, planning, many small tasks, a
# live heap of ~120 MB. Under the server compiler the background
# compiles of the first passes burn up to half the process CPU, and the
# default collector adds concurrent threads on the 4 cores the tasks
# run on; both made call times swing from run to run. C1 reaches its
# steady code within the warm-up pass, and a full serial collection of
# the small live heap (the settle barrier between calls) is quick.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILD = None         # the process group the run is waiting on


def stop_child():
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def spawn(cmd, **kw):
    """Start cmd in its own process group, so stop_child() ends all of it."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    return CHILD


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    print("perfbench: compiling (first run or sources changed)", file=sys.stderr)
    proc = spawn([sbt, "-batch", "compile"], cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=800)
    finally:
        stop_child()
    if code != 0:
        fail("build failed", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.tsv"))
    ap.add_argument("--record")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no graft sources next to the benchmark: run it from a graft checkout")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if knobs:
        fail("refusing to run with graft knobs set: " + ", ".join(knobs)
             + " (registry entries read them through GraftConfig.load())")

    os.makedirs(WORK, exist_ok=True)
    build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = [java, f"-Xmx{HEAP}", *JVM_OPTS, "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK, "--expected", os.path.abspath(a.expected)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]

    proc = spawn(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = proc.wait()
    finally:
        watchdog.cancel()
        stop_child()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S} s", 1)
    if code != 0 or last is None or not last.startswith("{"):
        if last is not None:
            print(last, file=sys.stderr)
        fail(f"benchmark process exited with code {code}", 1)
    print(last, flush=True)


if __name__ == "__main__":
    main()
