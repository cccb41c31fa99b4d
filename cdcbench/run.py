#!/usr/bin/env python3
"""Run one workload of the CDC-engine benchmark.

    python3 cdcbench/run.py --workload backfill|ingest|mutate --seed N \
        --seconds S --trace 0|1

Builds the engine if needed (see build.py), then starts a fresh JVM with a
fixed heap for the run. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it lists
attempted and failed operations per kind, the load average and the CPU
calibration time. With --trace 1 the metrics are the per-layer ones and
the spans go to .bench_build/cdcbench/traces/<workload>-s<seed>.json.
The JVM's own log goes to .bench_build/cdcbench/logs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill", "ingest", "mutate")
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except RuntimeError as e:
        print(f"cdcbench: build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(build.OUT, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-s{a.seed}.json")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, build.spark_classpath()]), "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--trace-out", trace_out]

    log_path = os.path.join(logs, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"cdcbench: run exceeded {JVM_TIMEOUT_S}s; see {log_path}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or "correct" not in result:
        print(f"cdcbench: no result (rc {proc.returncode}); see {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return proc.returncode or 4
    for ln in lines:
        print(ln)
    if proc.returncode != 0:
        print(f"cdcbench: run reported failures (rc {proc.returncode}); see {log_path}",
              file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
