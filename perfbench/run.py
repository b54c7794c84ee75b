#!/usr/bin/env python3
"""Job-path benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload small_jobs --seed 1 --seconds 12 --trace 0

Builds the repository's sources together with the benchmark program
(perfbench/build.sbt, output under .bench_build/), against the Spark jars
the repository's own build.sbt names, when they changed since
the last build, then runs one measured JVM. Inputs, outputs, Spark scratch
space and run records live under .bench_work/. The last stdout line is the
JSON result; everything else on stdout is the metrics in readable form.

Extra flag for the self-test: --corrupt 1 damages one sink output before
the first check, which must then be reported as a failure.
"""
import argparse
import hashlib
import os
import re
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800
STALE_INPUTS = 3  # perfbench.Main.StaleInputs

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jar directory the repository's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase directory")
    return m.group(1)


def build(jars):
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx3g", f"-Dperfbench.jars={jars}"])
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--corrupt", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    jars = spark_jars()
    build(jars)

    deadline = time.monotonic() + RUN_TIMEOUT_S
    warm_dir = os.path.join(WORK, "inputs", a.workload, "warm")
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK, "--corrupt", a.corrupt]
    # the set-up pass's fixed inputs come from their own JVM, once per
    # checkout, so the measured JVM always starts equally cold; the
    # measured JVM exits with STALE_INPUTS when they were written by
    # another version of the generator
    code = STALE_INPUTS if not os.path.exists(os.path.join(warm_dir, "_DONE")) else jvm(base, deadline, jars)
    if code == STALE_INPUTS:
        if jvm(base + ["--phase", "gen"], deadline, jars, stdout=sys.stderr) != 0:
            fail("input generation failed")
        code = jvm(base, deadline, jars)
    sys.exit(code)


def jvm(args, deadline, jars, stdout=None):
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # the parallel collector: G1's concurrent threads, sharing few
        # cores with Spark's tasks, made pass times vary by about 10%
        "-Xmx4g", "-XX:+UseParallelGC",
        # the codegen cache size the repository's build gives every JVM it runs
        "-Dspark.sql.codegen.cache.maxEntries=5000",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(WORK, 'derby', 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", f"{CLASSES}:{jars}/*",
        "perfbench.Main",
    ] + args
    proc = subprocess.Popen(cmd, cwd=WORK, start_new_session=True, stdout=stdout)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")


if __name__ == "__main__":
    main()
