#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds graft plus the driver
(perfbench/build.sbt) when the sources are newer than the last build, runs
the driver JVM in a scratch dir under bench_work/, checks the curation
results against their DuckDB oracles (tools/oracle_check.py), and prints one
JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The full record of the run (per-iteration times, environment, problems and,
with --trace 1, every span) is kept in bench_out/.
Workloads, metrics and their meaning: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ["exact_job", "curate_dedup"]
CORES = 4          # local[k], k <= nproc; shuffle partitions = k
# A run must end within 180 s, build excluded. The DuckDB oracle check gets
# ORACLE_S of that (the z3 check took ~5 s); the JVM gets the rest and
# starts no iteration its previous one says would end later than
# JVM_SLACK_S before its kill (that slack covers the last check, the result
# write and Spark's stop).
RUN_LIMIT_S = 175
ORACLE_S = 30
JVM_SLACK_S = 15
ORACLE_WORKLOADS = {"curate_dedup"}

# Matches org.apache.spark.launcher.JavaModuleOptions, as in the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns (returncode or None on timeout, stdout, stderr)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
        return p.returncode, out, err
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return None, out, err


def build():
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    rc, out, err = run_bounded(["sbt", "-batch", "compile", "writeClasspath"],
                               850, cwd=HERE)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(3, "build failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--slowdown", type=float, default=1.0,
                    help="stretch every timed iteration F-fold (self-test only)")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(2, f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
                "run from the root of a graft checkout")
    build()
    started = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, "bench_work", tag)
    records = os.path.join(ROOT, "bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cores = min(CORES, os.cpu_count() or 1)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # ParallelGC: with G1 the exact_job iteration took 26-33 s, with the
    # throughput collector 20-21 s on the same 4 cores (G1's concurrent
    # threads compete with the 4 task threads)
    jvm_limit = RUN_LIMIT_S - (ORACLE_S if a.workload in ORACLE_WORKLOADS else 0)
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    with open(CLASSPATH) as f:
        cmd += ["-cp", f.read().strip(), "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", result_file, "--cores", str(cores),
                "--deadline", str(jvm_limit - JVM_SLACK_S), "--slowdown", str(a.slowdown)]
    try:
        rc, out, err = run_bounded(cmd, jvm_limit, cwd=work)
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(err[-6000:])
            fail(4, f"benchmark JVM failed (rc={rc})")
        with open(result_file) as f:
            res = json.load(f)
        if a.workload in ORACLE_WORKLOADS:
            t0 = time.time()
            orc, oout, oerr = run_bounded(
                [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                 os.path.join(work, "input"), os.path.join(work, "oracle")],
                max(1.0, RUN_LIMIT_S - (time.time() - started)))
            res["info"]["oracle"] = {"rc": orc, "seconds": time.time() - t0,
                                     "log": (oout + oerr)[-3000:]}
            if orc != 0:
                # every iteration produced the same (checked) output, so a
                # wrong output fails them all
                res["correct"] = False
                res["failed"] = res["attempted"]
                if "ok_ratio" in res["metrics"]:
                    res["metrics"]["ok_ratio"]["value"] = 0.0
                res["info"]["problems"].append("DuckDB oracle mismatch")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(records, tag + ".spans.jsonl"))
        with open(os.path.join(records, tag + ".json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    summary = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
