#!/usr/bin/env python3
"""Steadiness tool: run each workload k times, each with its own seed, and
print for every end-to-end metric its median, quartiles and spread
(interquartile distance over median) next to its bound in BENCHMARK.json.

    python3 cdcbench/steady.py [-k 10] [--seed0 1] [--workloads backfill,ingest]
                               [--traced] [--out FILE]

--traced also makes one traced run per workload and reports the tracing
overhead: the traced run's round time (trace.run_s) over the untraced
median run_s. --out keeps every run's result line as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed (rc {p.returncode})")
    info = json.loads(lines[-2]) if len(lines) > 1 else {}
    return info, json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default="")
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    kept = []
    for w in workloads:
        runs = []
        for i in range(a.k):
            info, res = run_once(w, a.seed0 + i, seconds, 0)
            kept.append({"workload": w, "seed": a.seed0 + i, "info": info, "result": res})
            runs.append(res)
            print(f"{w} seed {a.seed0 + i}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"rounds={info.get('rounds')} calibration_ms={info.get('calibration_ms', 0):.0f} "
                  f"loadavg={info.get('loadavg', '').split(' ')[0]}", flush=True)
        print(f"\n{w}: {a.k} runs, seeds {a.seed0}..{a.seed0 + a.k - 1}")
        print(f"  {'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
              f"{'bound':>6s}  within bound/3")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            ok = "-" if name == "setup_s" else ("yes" if sp <= bound / 3 else "NO")
            print(f"  {name:30s} {med:12.4g} {q1:12.4g} {q3:12.4g} {sp:8.3f} {bound:6.2f}  {ok}")
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"  failed share per run: {sorted(shares)}")
        if a.traced:
            info, res = run_once(w, a.seed0, seconds, 1)
            kept.append({"workload": w, "seed": a.seed0, "trace": 1, "info": info, "result": res})
            traced = res["metrics"]["trace.run_s"]["value"]
            untraced = statistics.median(r["metrics"]["run_s"]["value"] for r in runs)
            print(f"  tracing overhead: traced run_s {traced:.3f} s vs untraced median "
                  f"{untraced:.3f} s ({traced / untraced - 1:+.1%})")
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(kept, f, indent=1)


if __name__ == "__main__":
    main()
