#!/usr/bin/env python3
"""Dedup benchmark: builds the engine and the benchmark from source, then
runs one workload in one JVM and relays its result.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_snapshot --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the lines before it print
every metric by name and unit, including the ones that do not apply to
the workload. Build output and progress go to standard error. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("crawl_snapshot", "mirror_chains", "incremental_crawl")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt)
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


def source_files(root):
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(files)


def build(root):
    """Compile with sbt unless the sources match the last build; returns
    the runtime classpath."""
    stamp_path = os.path.join(root, BUILD_DIR, "perfbench.stamp")
    cp_path = os.path.join(root, BUILD_DIR, "perfbench.classpath")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode() + b"\0")
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read() + b"\0")
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as fh:
                    return fh.read()
    print("perfbench: building", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        fail("build failed")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(cp_path, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the repository root: the engine sources are missing")
    classpath = build(root)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, work, "spark-local"))
    launched_ms = int(time.time() * 1000)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:G1HeapRegionSize=32m",
        # Steady op times in a short-lived JVM. Every op, warm or not, runs
        # ~155 Spark codegen compiles, so the JIT has new classes to compile
        # in each op. With C2 the op time still falls by 40% over the first
        # ten ops, so the few ops a run can afford sit on that slope; C1
        # alone is level after the warm-up op. With code-cache flushing on
        # (and the default cache size) every second op spent 3-4x the JIT
        # time of the first and ran 20-40% longer; a larger cache that is
        # never flushed removes that.
        "-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing",
        "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(root, work, 'tmp')}",
        "-cp", classpath, "graft.perfbench.BenchMain",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", os.path.join(root, work),
        "--launched-ms", str(launched_ms), "--nproc", str(nproc)]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines and lines[-1].startswith("{") else lines))
        fail(f"benchmark JVM exited with code {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
