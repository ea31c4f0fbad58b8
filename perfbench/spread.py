#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--out FILE]

Runs perfbench/run.py once per seed and prints, per end-to-end metric of
BENCHMARK.json, the median, the quartile distance (as Python's
statistics.quantiles(values, n=4) gives the quartiles) as a share of the
median, and the metric's bound. Each run's result line is appended to FILE
(one JSON object per line) when given, for compare.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-2000:])
            raise SystemExit(f"seed {s}: rc {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        share = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:14s} median {med:.4g} {m['unit']:6s} "
              f"spread {share:.3f} bound {m['bound']}")


if __name__ == "__main__":
    main()
