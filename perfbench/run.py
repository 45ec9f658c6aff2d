#!/usr/bin/env python3
"""Benchmark runner: build the engine and the benchmark from source, run one
workload in one JVM, print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles `src/main/scala`
together with `perfbench/src` through `perfbench/build.sbt`; later runs reuse
the classes while the sources are unchanged. Everything the run writes stays
under `perfbench/target/`. The last line of standard output is the JSON
result; see perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp")
WORKLOADS = ("xlsx_one_big", "xlsx_export_import", "corpus_ops")
# Heap per workload: the conversion contract's minimum for the xlsx paths;
# the query corpus gets the headroom its joins and stages need.
HEAP = {"xlsx_one_big": "2g", "xlsx_export_import": "2g", "corpus_ops": "3g"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit_id(fp):
    head = os.path.join(ROOT, ".git")
    if os.path.isdir(head):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "src-" + fp[:12]


def build(fp):
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log}", 3)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def stop(proc):
    """Stop the process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=15)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/", 2)
    fp = fingerprint()
    build(fp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP[a.workload]}", f"-Xmx{HEAP[a.workload]}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--commit", commit_id(fp), "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} timed out after {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not result:
        sys.stdout.write(out)
        fail(f"{a.workload} exited {code} without a result", code or 1)
    for line in lines:
        if not line.startswith('{"correct"'):
            print(line)
    print(result[-1])


if __name__ == "__main__":
    main()
