#!/usr/bin/env python3
"""The benchmark's own test: a synthetic 2x slowdown must be flagged and a
pure-noise rerun must not.

    python3 perfbench/selftest.py [--workload curate_dedup] [--runs 3]

Runs the workload `runs` times (set A), again `runs` times on the same seeds
(set B, pure noise) and `runs` times with --slowdown 2 (set C: the harness
stretches each timed iteration to twice its length; the program is not
touched). compare.py must find no regression in B vs A and must flag
`e2e_s` in C vs A. Exits 0 on success.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402


def run(workload, seed, seconds, slowdown):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--slowdown", str(slowdown)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"], res
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="curate_dedup")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=5)
    a = ap.parse_args()
    seeds = range(101, 101 + a.runs)
    sets = {name: [run(a.workload, s, a.seconds, f) for s in seeds]
            for name, f in (("A", 1.0), ("B", 1.0), ("C", 2.0))}
    metrics = compare.load_bench()["end_to_end"]
    noise = compare.compare(sets["A"], sets["B"], metrics)
    slow = compare.compare(sets["A"], sets["C"], metrics)
    print("noise rerun:", {k: v[0] for k, v in noise.items()})
    print("2x slowdown:", {k: v[0] for k, v in slow.items()})
    ok = all(v[0] != "worse" for v in noise.values()) and slow["e2e_s"][0] == "worse"
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
