#!/usr/bin/env python3
"""Summarize a span file written by `run.py --trace 1`.

    python3 perfbench/summarize_trace.py perfbench/traces/operators.jsonl

Prints the run's per-layer metrics, one row per op with its wall time and
the driver/scheduler/executor split, and the total and self time of every
span name (self time is a span's duration minus what its child spans
cover; `spark.job.*` spans are the Spark jobs an op ran).
"""
import collections
import json
import sys


def main(path):
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    run = next(r for r in rows if r["kind"] == "run")
    ops = [r for r in rows if r["kind"] == "op"]
    spans = [r for r in rows if r["kind"] == "span"]

    info = run["info"]
    print(f"workload {info['workload']}  seed {info['seed']}  passes {info['passes']}  "
          f"ops {len(ops)}  timed wall {info['timed_wall_s']:.2f} s")
    print("\nper-layer metrics (mean per op; ratios over the run)")
    for k, m in run["per_layer"].items():
        print(f"  {k:24s} {m['value']:14.4f} {m['unit']}")

    cols = ["driver.outside_jobs_s", "exec.jobs_union_s", "queries.build_s", "sched.jobs",
            "sched.tasks", "exec.task_cpu_s", "shuffle.read_bytes", "cache.bytes_held"]
    print("\nops: " + "  ".join(["wall_s"] + cols))
    for o in ops:
        vals = [f"{o['wall_s']:.3f}"] + [f"{o['layers'][c]:.3f}".rstrip("0").rstrip(".")
                                         for c in cols]
        print(f"  {o['op']:3d} {o['name']:24s} " + "  ".join(vals))

    agg = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        name = "spark.job" if s["name"].startswith("spark.job.") else s["name"]
        a = agg[name]
        a[0] += 1
        a[1] += s["end_ms"] - s["start_ms"]
        a[2] += s["self_ms"]
    print("\nspans: count  total_s  self_s")
    for name, (n, total, self_ms) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"  {name:28s} {n:5d} {total / 1e3:8.3f} {self_ms / 1e3:8.3f}")


if __name__ == "__main__":
    main(sys.argv[1])
