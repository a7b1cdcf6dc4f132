#!/usr/bin/env python3
"""Steadiness report: repeat one workload and show how much each metric moves.

Usage:
  python3 perfbench/steady.py --workload <name> [--runs 10] [--seed 1] [--seconds S] [--trace 0]

Runs `perfbench/run.py` once per seed (seed, seed+1, ...), sequentially, and
prints for every metric its median, quartiles (Python's
statistics.quantiles(values, n=4)), min and max, the quartile spread as a
share of the median, and the metric's bound from BENCHMARK.json. The host
load average is recorded next to each run, so noise can be told apart from
code. Exits non-zero if a run fails or is incorrect, if any spread exceeds
its bound, or if any percentile rests on fewer samples than it needs (20 for
a p50, 40 for a p75).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NEEDED = {"_p50": 20, "_p75": 40}


def last_json(text):
    """The last line of `text` that parses as a JSON object, after removing a
    launcher prefix such as sbt's `[info] `."""
    for line in reversed(text.splitlines()):
        line = re.sub(r"^(\[[a-z]+\] )+", "", line.strip())
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    return None


def run_once(workload, seed, seconds, trace):
    load = os.getloadavg()[0]
    t0 = time.monotonic()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    result = last_json(p.stdout) if p.returncode == 0 else None
    report_file = os.path.join(ROOT, ".bench_work", "results", f"{workload}-{seed}-trace{trace}.json")
    samples = {}
    if result and os.path.exists(report_file):
        with open(report_file) as f:
            samples = json.load(f).get("samples", {})
    return {"seed": seed, "load": load, "code": p.returncode, "result": result, "samples": samples,
            "seconds": time.monotonic() - t0, "tail": p.stdout[-2000:]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}

    runs = []
    problems = []
    for i in range(args.runs):
        r = run_once(args.workload, args.seed + i, seconds, args.trace)
        runs.append(r)
        res = r["result"]
        status = "ok" if res and res["correct"] else "FAILED"
        print(f"run seed={r['seed']} load1={r['load']:.2f} exit={r['code']} took={r['seconds']:.1f}s {status}",
              flush=True)
        if not res or not res["correct"]:
            problems.append(f"seed {r['seed']}: run failed or incorrect\n{r['tail']}")
            continue
        for name, n in r["samples"].items():
            need = next((v for k, v in NEEDED.items() if k in name), 1)
            if n and n < need:
                problems.append(f"seed {r['seed']}: {name} rests on {n} samples, needs {need}")

    good = [r for r in runs if r["result"] and r["result"]["correct"]]
    if good:
        names = list(good[0]["result"]["metrics"])
        print(f"\n{'metric':44} {'median':>11} {'q1':>11} {'q3':>11} {'min':>11} {'max':>11} "
              f"{'spread':>7} {'bound':>6}")
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in good]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0], 0, vals[0])
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            flag = ""
            if bound is not None:
                flag = "ok" if spread <= bound / 3 else ("WIDE" if spread <= bound else "OVER")
                if spread > bound:
                    problems.append(f"{name}: spread {spread:.3f} exceeds bound {bound}")
            print(f"{name:44} {med:11.5g} {q1:11.5g} {q3:11.5g} {min(vals):11.5g} {max(vals):11.5g} "
                  f"{spread:7.3f} {bound if bound is not None else '':>6} {flag}")
        loads = [r["load"] for r in runs]
        print(f"\nload average (1 min) before each run: {', '.join(f'{x:.2f}' for x in loads)}")
    for p in problems:
        print(f"PROBLEM: {p}")
    sys.exit(1 if problems or not good else 0)


if __name__ == "__main__":
    main()
