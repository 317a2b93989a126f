#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion|queries \
        --seed N --seconds S --trace 0|1 [--trace-out FILE]

Run it from the root of a checkout. The first run compiles the program's
sources together with the harness (sbt, offline) into .bench_build/; later
runs reuse that build while no source file has changed. Each run starts
one fresh JVM with its own java.io.tmpdir and Spark local dir under
.bench_run/, so scratch state the program keys on its input is rebuilt
during set-up, never inherited from an earlier run, and removed at exit.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones. The line before it records host
noise: nproc, load average, CPU steal and other processes' CPU during the
run, with the JVM flags and the Spark conf.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")

WORKLOADS = ("medallion", "queries")
END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "op_p90_s", "cpu_s_per_op",
              "ok_ratio", "heap_live_mb")
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 700        # the first run of a checkout also builds
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def cpu_times():
    """Machine-wide (busy, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]) - idle - steal, steal


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="where --trace 1 writes its span file "
                    "(default .bench_run/traces/<workload>-<seed>.jsonl)")
    ap.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"),
                    help="inventory tables for the queries workload")
    ap.add_argument("--rows", type=int, default=2000, help="rows per medallion batch")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src/main; run from a full checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)
    classpath = build()

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    result_file = os.path.join(run_dir, "result.json")
    trace_out = args.trace_out or os.path.join(RUNS, "traces", f"{args.workload}-{args.seed}.jsonl")
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # -UsePerfData: no hsperfdata file outside the checkout
           f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", os.path.abspath(args.data), "--expected", os.path.join(HERE, "expected"),
           "--rows", str(args.rows), "--run-dir", run_dir, "--result", result_file]
    if args.trace:
        cmd += ["--trace-out", os.path.abspath(trace_out)]

    load0, cpu0 = loadavg(), cpu_times()
    log_path = os.path.join(run_dir, "jvm.log")
    launched_ms = time.time() * 1e3
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    load1, cpu1 = loadavg(), cpu_times()

    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        why = "timed out" if rc is None else f"exited with {rc}"
        fail(f"benchmark JVM {why}", 4)
    with open(result_file) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    info = res["info"]
    setup_s = (info["first_op_epoch_ms"] - launched_ms) / 1e3
    host = {"nproc": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
            else os.cpu_count(), "loadavg_before": load0, "loadavg_after": load1}
    if cpu0 and cpu1:
        hz = os.sysconf("SC_CLK_TCK")
        host["steal_s"] = (cpu1[1] - cpu0[1]) / hz
        host["other_cpu_s"] = max(0.0, (cpu1[0] - cpu0[0]) / hz - info["process_cpu_total_s"])
    print(json.dumps({"run_info": info, "host": host, "setup_s": setup_s,
                      "samples": res["samples"]}))

    if args.trace:
        metrics = res["per_layer"]
    else:
        metrics = dict(res["end_to_end"])
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        metrics = {k: metrics[k] for k in END_TO_END}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
