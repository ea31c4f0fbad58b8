#!/usr/bin/env python3
"""Calibration-normalized cross-run bench diff (the r10 verdict ask).

Usage: tools/bench_diff.py <detail_a.json> <detail_b.json> [--flag-ratio=R]
(the space-separated form `--flag-ratio R` is accepted too)

Reads two bench detail files (the `bench_detail.json` Bench writes in its
working directory), normalizes each run's per-query seconds by that run's
measured contention factor, and prints a ranked table of normalized moves
so "did q regress or was the box busy?" is a tool output instead of
archaeology.

Normalization: each run's calibration median (the fixed CPU-bound probe
Bench interleaves through the run) is a direct measure of that run's
external-contention band; dividing per-query times by it puts both runs
on the same "calibration units" scale. Runs predating the probe (r9 and
earlier have no `calibration` block) fall back to the MEDIAN PER-QUERY
RATIO over common keys as the relative factor — robust (a handful of
real regressions cannot move the median of 300 ratios) and exact when
most queries are plan-stable, which PlanAuditSpec enforces. The output
states which normalization was used per run.

Flags queries whose normalized ratio moves more than --flag-ratio
(default 2.0) in either direction; exit code 0 always (it is a report,
not a gate — min-of-k spread and plan pins adjudicate, this ranks).

When both files carry Bench's `ledger` block, also lists every query
whose construct or execute job count or shuffle-write MB changed. Counts
do not depend on host contention, so they are compared as they are."""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def calib_median(d):
    c = d.get("calibration")
    if isinstance(c, dict) and c.get("median"):
        return float(c["median"]), "calibration median"
    return None, None


def ledger_moves(da, db):
    """(query, [move, ...]) for every query whose per-phase job count or
    shuffle-write MB differs, or None when either file has no ledger."""
    la, lb = da.get("ledger"), db.get("ledger")
    if not isinstance(la, dict) or not isinstance(lb, dict):
        return None
    moves = []
    for k in sorted(set(la) & set(lb)):
        a, b = la[k], lb[k]
        if not a or not b:
            continue
        m = [f"{ph} {key} {a[ph][key]}->{b[ph][key]}"
             for ph in ("construct", "execute")
             for key in ("jobs", "shuffle_write_mb")
             if a[ph][key] != b[ph][key]]
        if m:
            moves.append((k, m))
    return moves


def main():
    # Accept both --flag-ratio=R and --flag-ratio R (the r11 ADVICE fix:
    # the space-separated form used to IndexError on the missing '=').
    argv = sys.argv[1:]
    args = []
    flag_ratio = 2.0
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--flag-ratio"):
            if "=" in a:
                flag_ratio = float(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                i += 1
                flag_ratio = float(argv[i])
            else:
                sys.exit("--flag-ratio needs a value: " + __doc__)
        elif a.startswith("--"):
            sys.exit("unknown flag %s\n%s" % (a, __doc__))
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__)
    pa, pb = args
    da, db = load(pa), load(pb)
    qa, qb = da["queries"], db["queries"]
    common = sorted(set(qa) & set(qb))
    only_a = sorted(set(qa) - set(qb))
    only_b = sorted(set(qb) - set(qa))

    ca, la = calib_median(da)
    cb, lb = calib_median(db)
    # Raw ratios over common keys (b/a) — also the fallback normalizer.
    ratios = sorted(qb[k] / qa[k] for k in common if qa[k] > 0)
    med_ratio = ratios[len(ratios) // 2] if ratios else 1.0
    if ca and cb:
        factor = cb / ca
        how = (f"calib medians {ca:.3f}->{cb:.3f} "
               f"(factor {factor:.3f})")
    else:
        factor = med_ratio
        how = (f"median per-query ratio {factor:.3f} "
               f"(calibration block missing in "
               f"{'both' if not ca and not cb else (pa if not ca else pb)})")

    print(f"# bench_diff {pa} -> {pb}")
    print(f"# common={len(common)} only_a={len(only_a)} "
          f"only_b={len(only_b)}")
    print(f"# totals: {da.get('value')}s -> {db.get('value')}s; "
          f"normalizer: {how}; raw median ratio {med_ratio:.3f}")
    rows = []
    for k in common:
        a, b = qa[k], qb[k]
        norm = (b / a) / factor if a > 0 else float("inf")
        rows.append((norm, k, a, b))
    rows.sort(reverse=True)
    flagged = [r for r in rows
               if r[0] >= flag_ratio or r[0] <= 1.0 / flag_ratio]
    print(f"# flagged (normalized ratio outside "
          f"[{1/flag_ratio:.2f}, {flag_ratio:.2f}]): {len(flagged)}")
    print(f"{'query':28s} {'a_sec':>8s} {'b_sec':>8s} {'raw':>6s} "
          f"{'norm':>6s}  note")
    for norm, k, a, b in rows:
        note = ""
        if norm >= flag_ratio:
            note = "SLOWER (normalized) — check plan pin / spread"
        elif norm <= 1.0 / flag_ratio:
            note = "faster (normalized)"
        if note or abs(norm - 1.0) > 0.5:
            print(f"{k:28s} {a:8.3f} {b:8.3f} {b/a:6.2f} {norm:6.2f}  "
                  f"{note}")
    moves = ledger_moves(da, db)
    if moves is None:
        print("# ledger: missing in "
              f"{pa if not isinstance(da.get('ledger'), dict) else pb}"
              " — counts not compared")
    else:
        print(f"# ledger: {len(moves)} queries with moved job counts or "
              "shuffle MB")
        for k, m in moves:
            print(f"{k:28s} {'; '.join(m)}")
    if only_b:
        print(f"# new in b: {', '.join(only_b)}")
    if only_a:
        print(f"# dropped from b: {', '.join(only_a)}")


if __name__ == "__main__":
    main()
