#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <lookup|dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the build one
directory up) and records the classpath; later calls reuse it until a source
or build file changes. Each run is then one fresh JVM with a fixed heap, so
set-up time is counted from JVM start and excludes the build tool.

The last line of standard output is the result object printed by
perfbench.Main. Anything else goes to standard error.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HEAP = "1g"
# Spark task threads. Two, leaving the other cores of a 4-core machine to the
# JIT compiler, the collector and the listener bus: with every core running
# tasks, their competition made the run-to-run spread of a CalculateTimes.run
# call ten times wider (0.21 against 0.02 of the median over four seeds).
PARALLELISM = 2
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

BENCH = "perfbench"
STAMP = os.path.join(BENCH, "target", "bench-classpath.txt")
SOURCES = ["src/main/scala", os.path.join(BENCH, "src/main")]
BUILD_FILES = ["build.sbt", "project/build.properties",
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project/build.properties")]

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# program's build.sbt, from Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    files = [f for f in BUILD_FILES if os.path.isfile(f)]
    for d in SOURCES:
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when sources changed."""
    fp = fingerprint()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp_fp, cp = fh.read().split("\n", 1)
        if stamp_fp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not complete: {e}")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n" + cp)
    return cp


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("build.sbt"):
        fail("run from the root of a checkout of the program: its sources are not here")

    cp = classpath()
    cpus = max(1, min(PARALLELISM, len(os.sched_getaffinity(0))))
    work = os.path.abspath(os.path.join(BENCH, ".work", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the run's directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH, 'log4j2.properties'))}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--work", work,
        "--traces", os.path.abspath(os.path.join(BENCH, "traces")),
    ]
    proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit code {proc.returncode})")
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
