#!/usr/bin/env python3
"""Build and run the ixmpspark benchmark.

    python3 perfbench/run.py --workload scenario_edit --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the library
sources together with the harness in perfbench/src (sbt, output under
.bench_build/); later runs reuse the classes while the sources are
unchanged. Each run starts one JVM in a fresh directory under
.bench_work/, deletes it afterwards, and prints one JSON result object
as the last line of standard output. With --trace 1 the per-layer
metrics are reported and the spans are kept in .bench_work/traces/.
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

WORKLOADS = ("scenario_edit", "corpus_index")
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt starts a JVM of its own) and wait for it. Returns (code, stdout)
    or None after a timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_digest():
    """Hash of every input of the build, in a stable order."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def build(env, digest):
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                  BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr,
                  stderr=sys.stderr)
    if r is None or r[0] != 0:
        die("build failed" if r else f"build exceeded {BUILD_TIMEOUT_S} s")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"library sources not found under {ROOT}/src/main/scala")

    env = dict(os.environ, SPARK_HOME=spark_home())
    digest = source_digest()
    build(env, digest)
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if not os.path.isdir(classes):
        die("build produced no classes")

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    java = shutil.which("java") or die("java is not on PATH")
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(env["SPARK_HOME"], "jars", "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl"),
            "--commit", commit_id(), "--source", digest[:16]]
    r = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                  stderr=sys.stderr, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    code, out = r
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        die(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        die(f"malformed result line: {lines[-1]}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
