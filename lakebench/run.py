#!/usr/bin/env python3
"""Benchmark of the graft CDC lake engine.

Run from the repository root:

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lakebench/run.py --selftest

Workloads: replay_bulk, stream_trickle, lake_read, operator_queries (see
lakebench/NOTES.md). The first run compiles the engine sources together with
the harness (sbt, lakebench/build.sbt); later runs reuse the classes while
the sources are unchanged. Each run is one JVM. Its standard output ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones (and the span trace is written to lakebench/traces/<workload>.jsonl).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "lakebench.stamp")
WORK = os.path.join(HERE, "work")
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MIN_FREE_BYTES = 4 << 30
# A run that has not finished by then is stuck: kill it and fail.
JVM_DEADLINE_S = 175


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("[lakebench] no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(home):
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("compiling engine + harness (sbt)")
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        opts = " ".join([opts] + extra).strip()
    env["SBT_OPTS"] = opts
    subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def heap_gb():
    """A quarter of physical memory, between 2 and 6 GB (the host is shared;
    the workloads are sized to fit in 2)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(6, kb // (4 << 20)))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(home, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: on 4 CPUs the C2 compiler threads compete with the workload
    # for the first ~20 s of every JVM, which is most of a run; C1 code is
    # steady from the first leg. Both sides of any comparison use the same.
    heap = f"{heap_gb()}g"
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd):
    """Run the JVM in its own process group and relay its output, holding
    back the result line; return that line (or None) and the exit code."""
    # Spark's scratch space goes inside the work dir, whatever the caller set.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    watchdog = threading.Timer(JVM_DEADLINE_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return last, proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"[lakebench] engine sources missing under {ENGINE_SRC}: "
                 "run from a checkout of the repository")
    home = spark_home()
    build(home)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    free = shutil.disk_usage(WORK).free
    if free < MIN_FREE_BYTES:
        sys.exit(f"[lakebench] only {free >> 20} MB free; need {MIN_FREE_BYTES >> 20} MB")
    try:
        if a.selftest:
            _, code = run_jvm(java_cmd(home, "lakebench.SelfTest",
                                       ["--work", WORK, "--bench", os.path.join(ROOT, "BENCHMARK.json")]))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(WORK, "run"), "--src", ENGINE_SRC]
        if a.trace:
            args += ["--trace-out", os.path.join(HERE, "traces", f"{a.workload}.jsonl")]
        last, code = run_jvm(java_cmd(home, "lakebench.Main", args))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if code != 0 or last is None:
        sys.exit(f"[lakebench] run failed (exit {code})")
    print(last, flush=True)


if __name__ == "__main__":
    main()
