#!/usr/bin/env python3
"""Ingest + analytics benchmark runner.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt (once per source
state; later runs reuse the build), then runs one workload in a fresh JVM.
The last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics"}. See ingestbench/README.md.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(TARGET, "bench-build.json")
WORKLOADS = ["http_small", "http_bulk", "tcp_stream", "query_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged; the classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}")
    stamp = source_stamp()
    try:
        with open(STAMP) as fh:
            done = json.load(fh)
        if done.get("stamp") == stamp:
            return done["classpath"]
    except (OSError, ValueError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    cmd = [sbt, "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
           "-Dsbt.color=false", "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    print(f"ingestbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="query_mix: record the results of this seed's data set")
    ap.add_argument("--rate", type=float,
                    help="http_small (requests/s) or tcp_stream (lines/s): override the offered rate")
    a = ap.parse_args()

    classpath = build()
    for d in ("tmp", "spark-local", "tcp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+ExitOnOutOfMemoryError",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "ingestbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK,
            "--golden", os.path.join(BENCH, "golden", "query_mix.json")]
    if a.record_golden:
        cmd += ["--record", "1"]
    if a.rate is not None:
        cmd += ["--rate", str(a.rate)]

    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    child = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             text=True, env=env, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if child.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {child.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
