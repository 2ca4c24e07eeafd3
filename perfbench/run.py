#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

The first run compiles the engine's sources together with the harness in
perfbench/ (sbt, offline) and records the class path; later runs start the
harness JVM directly. The last line of standard output is the result as one
JSON object; everything the run writes stays under perfbench/.work.
"""
import argparse
import os
import shutil
import subprocess
import sys

WORKLOADS = ("reports", "interactive", "pipeline", "refresh")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (the same list as the engine's build.sbt).
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


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        for dirpath, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala") or f.endswith(".sbt") or f.endswith(".properties"):
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build(bench_dir, sources, classpath_file):
    """Compile engine and harness unless the recorded class path is current."""
    if os.path.exists(classpath_file) and \
            os.path.getmtime(classpath_file) >= newest_mtime(sources):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    print("perfbench: building engine and harness", file=sys.stderr)
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=bench_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, check=True, timeout=BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired, OSError) as e:
        fail(f"build failed: {e}")
    if not os.path.exists(classpath_file):
        fail("build did not record a class path")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    bench_dir = os.path.join(root, "perfbench")
    engine_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine_src, "graft")):
        fail(f"no engine sources under {engine_src}; run from the repository root")
    if not os.path.isfile(os.path.join(bench_dir, "build.sbt")):
        fail("perfbench/build.sbt is missing")

    classpath_file = os.path.join(bench_dir, "target", "classpath.txt")
    build(bench_dir, [engine_src, os.path.join(bench_dir, "src", "main"),
                      os.path.join(bench_dir, "build.sbt"),
                      os.path.join(bench_dir, "project")], classpath_file)
    with open(classpath_file) as f:
        classpath = f.read().strip()

    work = os.path.join(bench_dir, ".work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if code != 0:
        fail(f"harness exited with code {code}")


if __name__ == "__main__":
    main()
