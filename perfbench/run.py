#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload lake_scan --seed 1 --seconds 10 --trace 0

Builds the benchmark driver (engine sources plus perfbench/src) with sbt
on first use, runs it in a fresh JVM, and re-checks its result: the last
line of stdout is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. Everything the run writes stays under .bench_build/ at
the root of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# Seed reserved for confirming a claimed gain; never tune against it.
HOLDOUT_SEED = 990001
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; return the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=os.environ.get("SBT_OPTS", "") +
               f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    cp = [l.strip() for l in proc.stdout.splitlines()
          if os.pathsep in l and "classes" in l and ".jar" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def check_result(line, metrics):
    """The result line: exact keys, exactly `metrics`, numbers."""
    r = json.loads(line)
    if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
        return "result keys"
    if not isinstance(r["attempted"], int) or r["attempted"] < 1:
        return "attempted"
    if not isinstance(r["failed"], int):
        return "failed"
    if sorted(r["metrics"]) != sorted(metrics):
        return "metric set"
    for k, m in r["metrics"].items():
        if sorted(m) != ["unit", "value"] or not isinstance(
                m["value"], (int, float)):
            return f"metric {k}"
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")

    classpath = build()
    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--trace-out", os.path.join(BUILD_DIR, "traces",
                                    f"{a.workload}-seed{a.seed}.json")]
    log_path = os.path.join(BUILD_DIR, "logs", f"{a.workload}-seed{a.seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    log = open(log_path, "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    lines = []

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(1)))
    watchdog = threading.Timer(RUN_TIMEOUT_S, stop)
    watchdog.start()
    try:
        # hold back the newest line: only a checked result may end stdout
        for line in proc.stdout:
            if lines:
                print(lines[-1], flush=True)
            lines.append(line.rstrip("\n"))
        proc.wait()
    finally:
        watchdog.cancel()
        stop()
        shutil.rmtree(work, ignore_errors=True)
        log.close()
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if not l.startswith("\tat "))[-4000:])
        fail(f"driver exited with code {proc.returncode}; log in "
             f"{os.path.relpath(log_path, ROOT)}", 1)
    problem = check_result(lines[-1], [
        m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]])
    if problem:
        fail(f"malformed result ({problem}): {lines[-1]}", 1)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
