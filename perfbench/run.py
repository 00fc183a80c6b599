#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload interactive_search --seed 1 \
        --seconds 10 --trace 0

Builds the program from source on first use (perfbench/build.py), checks
free disk, runs the workload in one JVM under a fresh temp root inside
.bench_build/, deletes that root, and relays the JVM's output. The last
line printed is one JSON object {"correct", "attempted", "failed",
"metrics"}; on any failure nothing of the kind is printed and the exit
code is non-zero. Traced runs (--trace 1) also write their spans to
.bench_build/traces/<workload>-seed<n>.json.

Extra flags: --tiny (smoke-test sizes), --corrupt (perturb one checked
answer, so the run must report a failure).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("interactive_search", "ingest_and_curate")
MIN_FREE_GIB = 3
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")
    free_gib = shutil.disk_usage(build.ROOT).free / 2**30
    if free_gib < MIN_FREE_GIB:
        fail(f"only {free_gib:.1f} GiB free, need {MIN_FREE_GIB}")

    root = os.path.join(build.OUT, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", root,
            "--trace-dir", os.path.join(build.OUT, "traces"), "--cores", str(cores())] +
           (["--tiny"] if a.tiny else []) + (["--corrupt"] if a.corrupt else []))
    # a terminated runner still stops its JVM (the finally clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        fail(f"workload exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(root, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        sys.stderr.write(out)
        fail(f"workload failed (exit {proc.returncode})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
