#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

    python3 geobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles the engine's sources
together with the benchmark driver (the sbt project in this directory); later
runs reuse that build while no source file is newer than it. The benchmark
prints one line per metric and, last, one JSON object with the run's result.
It exits non-zero when the build fails, an operation fails or a result check
does not hold.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("web_pip", "poly_relate_dense", "index_build_query")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the JVM is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def sources():
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"geobench: engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    newest = max(os.path.getmtime(p) for p in sources())
    if not os.path.exists(CLASSPATH) or os.path.getmtime(CLASSPATH) < newest:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr,
                          stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(CLASSPATH):
            sys.exit(f"geobench: build failed (sbt exit {rc})")
    with open(CLASSPATH) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # on SIGTERM, unwind through run_group's clean-up so no JVM is left behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    # a fixed heap, touched at start, so that the VM's first-touch page
    # faults land before the timed operations, not in them
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.bench.GeoBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work,
            "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"geobench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(rc)


if __name__ == "__main__":
    main()
