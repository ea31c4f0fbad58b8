#!/usr/bin/env python3
"""Compare two sets of benchmark runs of one workload, metric by metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds one run result per line (the last stdout line of
perfbench/run.py). For every end-to-end metric of BENCHMARK.json the
verdict is:

  worse      the change's median is worse than the parent's by more than
             the metric's bound AND by more than the parent's own spread
             (distance between its quartiles);
  better     the same two conditions in the other direction;
  same       neither.

Exits 1 when any metric is worse, 0 otherwise.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def compare(parent, change, metrics):
    """Returns {metric: (verdict, parent_median, change_median, parent_iqr)}."""
    out = {}
    for m in metrics:
        p, c = values(parent, m["name"]), values(change, m["name"])
        if not p or not c:
            continue
        q1, pm, q3 = quartiles(p)
        cm = statistics.median(c)
        sign = 1.0 if m["better"] == "lower" else -1.0
        delta = sign * (cm - pm)          # > 0: the change is worse
        limit = max(m["bound"] * abs(pm), q3 - q1)
        verdict = "worse" if delta > limit else "better" if -delta > limit else "same"
        out[m["name"]] = (verdict, pm, cm, q3 - q1)
    return out


def read_runs(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    res = compare(read_runs(argv[1]), read_runs(argv[2]), load_bench()["end_to_end"])
    for name, (v, pm, cm, iqr) in res.items():
        print(f"{name:14s} {v:6s} parent {pm:.4g} (iqr {iqr:.3g})  change {cm:.4g}")
    return 1 if any(v == "worse" for v, *_ in res.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
