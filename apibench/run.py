#!/usr/bin/env python3
"""Benchmark of the engine's HTTP API and query suite.

    python3 apibench/run.py --workload api_tabular --seed 1 --seconds 10 --trace 0
    python3 apibench/run.py --selfcheck

Run from the repository root. The first run builds the engine's sources
together with the benchmark's (apibench/build.sbt, sbt offline); later
runs reuse the jar and its class-data archive while no source has changed.
Each run launches one JVM whose scratch space (java.io.tmpdir, Spark's
local dirs, created versions) lives under apibench/target/work and is
removed afterwards. The last stdout line is the result object.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "scala-2.13", "apibench_2.13-0.jar")
CDS = os.path.join(TARGET, "apibench.jsa")
STAMP = os.path.join(TARGET, "sources.sha1")
# SPARK_HOME, else the Spark installation whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "/")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
LOG = os.path.join(TARGET, "last-run.log")
RUN_TIMEOUT_S = 170

SBT_FLAGS = ["-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
             "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]

# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles and packages the engine with the benchmark, then records
    a class-data-sharing archive of the classes a short tiny-data run of
    each workload loads, so every measured run starts its JVM and Spark
    session from the archive instead of re-parsing thousands of classes."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build_locked()


def build_locked():
    want = digest()
    if all(os.path.exists(f) for f in (JAR, CDS, STAMP)) and open(STAMP).read() == want:
        return
    for f in (STAMP, CDS):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    r = subprocess.run(["sbt", "--batch"] + SBT_FLAGS + ["package"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(JAR):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    code, _ = launch(["--train"], ["-XX:ArchiveClassesAtExit=" + CDS], timeout=600)
    if code != 0 or not os.path.exists(CDS):
        sys.exit("class-data archive run failed; JVM log in %s" % LOG)
    with open(STAMP, "w") as fh:
        fh.write(want)


def launch(args, jvm_flags, timeout):
    """Runs graft.apibench.Main in a fresh scratch directory; returns (exit code, stdout)."""
    work = os.path.join(TARGET, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    cmd = (["java", "-Xmx4g", "-Djava.io.tmpdir=" + work] + jvm_flags
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")]), "graft.apibench.Main"]
           + args)
    p = None

    def stop(signum, _frame):
        if p is not None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(LOG, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                 stderr=log, text=True)
            try:
                out, _ = p.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("run timed out; JVM log in %s" % LOG)
        return p.returncode, out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("the engine's sources (src/main/scala) are not beside apibench/")
    build()
    if a.selfcheck:
        args = ["--selfcheck"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    code, out = launch(args, ["-XX:SharedArchiveFile=" + CDS],
                       timeout=900 if a.selfcheck else RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if code != 0:
        if a.selfcheck and lines:
            print(lines[-1])
        sys.exit("run failed (exit %d); JVM log in %s" % (code, LOG))
    if a.selfcheck:
        print(lines[-1] if lines else "")
        return
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
