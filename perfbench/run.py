#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--tiny] [--corrupt mirror|oracle]

Builds the engine and the harness from source (perfbench/build.py), starts one
JVM (`perfbench.Main`) that sets up, runs the workload's fixed script and
checks its outputs, then compares operator outputs against their DuckDB
oracles. The operator workload reads the repository's test tables, copied
verbatim under perfbench/testdata/ (sf0.01; sf0.001 for the self-test) so
the run reads nothing outside its checkout. With `--trace 1` the JVM runs
every step of the script twice, untraced and traced, and the run reports the
per-layer metrics and the tracing overhead; the Chrome trace and the JVM log
are kept under .bench_work/results/.
`--tiny` runs the self-test size; `--corrupt` damages an output on purpose
(the self-test's proof that the checks catch it).

The last stdout line is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value": v, "unit": u}}}
The same object, with sample counts and check details, is written to
.bench_work/results/<workload>-<seed>-trace<t>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 160


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


TESTDATA = os.path.join(HERE, "testdata")


def table_args(args):
    """The operator workload's tables: sf0.01, or sf0.001 at the self-test size."""
    return ["--tables", os.path.join(TESTDATA, "sf0.001" if args.tiny else "sf0.01")]


def run_jvm(build_dir, args, work, out, extra):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java_cmd(build_dir, work) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out, "--tiny", "1" if args.tiny else "0"]
    cmd += (["--corrupt", args.corrupt] if args.corrupt else []) + extra
    log = os.path.join(out, "jvm.log")
    os.makedirs(out, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s")
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise SystemExit(f"run: JVM exited with code {code}\n{tail}")
    with open(res) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    ap.add_argument("--corrupt", choices=["mirror", "oracle"], help="self-test: damage an output")
    args = ap.parse_args()

    spec = load_spec()
    build_dir = build.build()

    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    bench_work = os.path.join(ROOT, ".bench_work")
    results = os.path.join(bench_work, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(bench_work, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    try:
        extra = table_args(args) if args.workload == "operator_batch" else []
        t0 = time.monotonic()
        res = run_jvm(build_dir, args, os.path.join(work, "jvm"), out, extra)
        t1 = time.monotonic()
        checks = list(res["checks"])
        if res["oracle"]:
            checks += oracle.compare(res["tables_dir"], res["oracle"], corrupt=args.corrupt == "oracle")
        phases = {"jvm_s": t1 - t0, "oracle_s": time.monotonic() - t1}
        if args.trace:
            shutil.copy(os.path.join(out, "trace.json"), os.path.join(results, f"{tag}.trace.json"))
    finally:
        if os.path.exists(os.path.join(out, "jvm.log")):
            shutil.copy(os.path.join(out, "jvm.log"), os.path.join(results, f"{tag}.jvm.log"))
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    kind = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        # a layer the workload does not exercise reports 0
        for m in spec["per_layer"]:
            metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"], "samples": 0})
    names = [m["name"] for m in spec[kind]]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise SystemExit(f"run: workload {args.workload} did not report {missing}")
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = res["ops_attempted"] + len(checks)
    failed = res["ops_failed"] + len(failed_checks)
    final = {
        "correct": not failed_checks and res["ops_failed"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in names},
    }
    report = dict(final, samples={n: metrics[n].get("samples", 1) for n in names},
                  checks=checks, phases=phases, seed=args.seed, seconds=args.seconds, loadavg=os.getloadavg(),
                  finished=time.time(), all_metrics=metrics, series=res["series"])
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for c in failed_checks:
        print(f"CHECK FAILED: {c['name']}: {c['detail']}")
    for n in names:
        m = metrics[n]
        print(f"{n} = {m['value']:.6g} {m['unit']} (n={m.get('samples', 1)})")
    sys.stdout.flush()
    print(json.dumps(final))


if __name__ == "__main__":
    main()
