#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload keyed_ops --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark first when a source changed (see
build.py), then runs the workload in one JVM with Spark as local[N], N = the
number of CPUs. Everything it writes goes under .bench_build/ in the checkout.
With --trace 0 the result holds the end-to-end metrics, with --trace 1 the
per-layer metrics. Exits non-zero, without a result line, when the build or
the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

WORKLOADS = ("keyed_ops", "curation_loop")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except (subprocess.CalledProcessError, OSError) as e:
        sys.exit(f"perfbench: build failed: {e}")

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)

    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--workdir", work, "--results", results]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    result = lines[-1] if lines else ""
    try:
        parsed = json.loads(result)
    except ValueError:
        parsed = None
    if proc.returncode != 0 or not isinstance(parsed, dict):
        sys.stdout.write(out if parsed is None else "\n".join(lines[:-1]) + "\n")
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
