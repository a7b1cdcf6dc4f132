#!/usr/bin/env python3
"""Self-test of the benchmark.

Usage: python3 perfbench/selftest.py

Runs every workload (those of BENCHMARK.json and `snapshot_bulk`) at a tiny
size, untraced and traced,
and asserts that the last stdout line parses, that it carries every metric
the contract names with its declared unit, and that the result file records
a sample count for each. It then damages an output on purpose — a mirror
data object dropped after a ledger run, a changed row in an operator output
— and asserts that the run reports itself incorrect.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from steady import last_json  # noqa: E402

SECONDS = 40


def run(workload, trace, corrupt=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", str(SECONDS), "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stdout[-3000:]}"
    result = last_json(p.stdout)
    assert result is not None, f"{cmd}: no JSON result line"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"keys {sorted(result)}"
    with open(os.path.join(ROOT, ".bench_work", "results", f"{workload}-7-trace{trace}.json")) as f:
        report = json.load(f)
    return result, report


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            failures.append(msg)

    # snapshot_bulk is not in BENCHMARK.json but stays runnable
    for w in [w["name"] for w in spec["workloads"]] + ["snapshot_bulk"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result, report = run(w, trace)
            check(result["correct"] and result["failed"] == 0, f"{w} trace={trace}: correct, nothing failed")
            check(result["attempted"] >= 1, f"{w} trace={trace}: attempted {result['attempted']}")
            for m in spec[kind]:
                got = result["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"] and isinstance(got["value"], (int, float)),
                      f"{w} trace={trace}: {m['name']} emitted in {m['unit']}")
                check(isinstance(report["samples"].get(m["name"]), int),
                      f"{w} trace={trace}: {m['name']} has a sample count")
            check(set(result["metrics"]) == {m["name"] for m in spec[kind]},
                  f"{w} trace={trace}: no metric beyond the contract's")

    result, _ = run("ledger_trickle", 0, corrupt="mirror")
    check(not result["correct"] and result["failed"] > 0, "a dropped mirror object is reported as a failure")
    result, _ = run("operator_batch", 0, corrupt="oracle")
    check(not result["correct"] and result["failed"] > 0, "a changed operator output row is reported as a failure")

    print(f"\n{'FAILED: ' + str(len(failures)) if failures else 'all self-tests passed'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
