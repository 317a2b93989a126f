#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at the smallest sizes
(inventory tables at sf0.001, 200-row medallion batches, one pass) and
checks that each run prints every metric BENCHMARK.json names, with the
unit it declares, that every op passed its check, and that the traced
run wrote its span file. Exits non-zero on the first problem.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, trace_out):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--data", os.path.join(HERE, "data", "sf0.001"), "--rows", "200",
           "--trace-out", trace_out]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    scratch = os.path.join(ROOT, ".bench_run")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        for w in (x["name"] for x in spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                trace_out = os.path.join(tmp, f"{w}.jsonl")
                res = run(w, trace, trace_out)
                label = f"{w} trace={trace}"
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"{label}: result keys {sorted(res)}")
                if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                    problems.append(f"{label}: {res['failed']} of {res['attempted']} ops failed")
                for m in spec[key]:
                    got = res["metrics"].get(m["name"])
                    if got is None:
                        problems.append(f"{label}: {m['name']} missing")
                    elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                        problems.append(f"{label}: {m['name']} is {got}, unit {m['unit']} expected")
                extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
                if extra:
                    problems.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
                if trace and not os.path.exists(trace_out):
                    problems.append(f"{label}: no span file written")
                print(f"{label}: {res['attempted']} ops, {len(res['metrics'])} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    if problems:
        sys.exit(1)
    print("selftest ok")


if __name__ == "__main__":
    main()
