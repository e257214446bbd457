#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and its harness from this
checkout's sources (once), runs one workload in one JVM, and prints the
result as the last line of standard output.

    python3 perfbench/run.py --workload board|live --seed N \
        --seconds S --trace 0|1

Run it from the root of the checkout. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_work", "perfbench")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected", "board.json")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
STAMP = os.path.join(HARNESS, "target", "source.sha256")

# Spark on JDK 17 needs these opens when not launched by spark-submit.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The session runs on a fixed 4 cores whatever the host has, so answers and
# job shapes do not change with the machine.
CPUS = "4"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JAVA_ENV = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """SHA-256 over every engine and harness source file, path included."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 3)
    return p.returncode, out


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def java_cmd(scratch, args):
    """The harness JVM command; its temp and Spark dirs live in scratch."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main"] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["board", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail("no engine sources at src/main/scala: run from a full checkout")
    # one run at a time per checkout: runs share the build and the scratch dir
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    digest = source_hash()
    build(digest)

    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    keep = os.path.join(WORK, "keep")
    os.makedirs(keep, exist_ok=True)
    out_file = os.path.join(scratch, "result.json")
    cmd = java_cmd(scratch, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", DATA, "--expected", EXPECTED,
        "--work", scratch, "--keep", keep, "--out", out_file,
        "--source", "src-" + digest[:12]])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=scratch, env=JAVA_ENV,
                            stdout=subprocess.PIPE, text=True)
    sys.stdout.write(out)
    result = None
    if os.path.exists(out_file):
        with open(out_file) as fh:
            result = fh.read().strip()
    shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        fail(f"harness exited {code} without a result", code or 1)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
