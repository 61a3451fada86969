#!/usr/bin/env python3
"""Run one benchmark measurement of the batch-processing analysis engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source when needed (see
perfbench/build.py), runs the workload in one JVM and prints, as the last
line of stdout, one JSON object with the keys correct, attempted, failed
and metrics. The line before it is the run's detail artifact (every metric
with its sample count, host context, checks), also written to
perfbench/work/<workload>-seed<n>-trace<t>/artifact.json.

Exits non-zero, without a result line, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ep_sf0.01", "surface_sf0.01")
# Hard limit for one run, build excluded; a run that exceeds it is killed.
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap() -> str:
    """Half the host memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(6, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def java(classpath: str, main_class: str, args: list, work: str) -> list:
    """The JVM command line for `main_class`, with its temp files in `work`."""
    return (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main_class] + args)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    classpath = build.build()
    work = fresh_dir(os.path.join(BENCH, "work", f"{a.workload}-seed{a.seed}-trace{a.trace}"))
    cmd = java(classpath, "perfbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--expected", os.path.join(BENCH, "expected.txt")], work)
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired as e:
        err = e.stderr or ""
        sys.stderr.write((err.decode(errors="replace") if isinstance(err, bytes) else err)[-4000:])
        sys.stderr.write(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped\n")
        return 3
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-8000:])
        sys.stderr.write(f"perfbench: the run failed (exit {proc.returncode})\n")
        return proc.returncode or 4
    for l in proc.stderr.splitlines():
        if l.startswith("[perfbench]"):
            sys.stderr.write(l + "\n")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    detail["run_s"] = round(time.time() - t0, 3)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
