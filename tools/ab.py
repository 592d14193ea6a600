#!/usr/bin/env python3
"""Paired A/B of graft.Bench runs, read against an untouched control set.

Usage: python3 tools/ab.py PARENT CHANGE [CONTROL_QUERY ...]

PARENT and CHANGE are files written by graft.Bench (SPARK_GRAFT_BENCH_OUT:
one JSON line whose "queries" maps each passing query to its min seconds
over reps). Either may be a comma-separated list of such files, one per
run of a paired series; a query's seconds are then the median over its
runs, and the parent's quartile distance (IQR) over its runs is shown,
with `slower` marking a change median above the parent median by more
than that IQR.

For each query present on both sides it prints parent s, change s and
change/parent. Given control queries (ones the change does not touch),
it then prints their median ratio, which is the host's drift between
the sides, and each query's ratio divided by it. Exits 1 when an input
file is unreadable or a control query is missing from either side.
"""
import json
import statistics
import sys


def load(spec):
    runs = []
    for path in spec.split(","):
        try:
            with open(path) as f:
                runs.append(json.loads(f.readline())["queries"])
        except (OSError, ValueError, KeyError, TypeError) as e:
            sys.exit(f"ab: cannot read bench output {path}: {e}")
    return runs


def median(runs, q):
    return statistics.median(r[q] for r in runs)


def iqr(runs, q):
    xs = [r[q] for r in runs]
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    parent, change = load(argv[0]), load(argv[1])
    controls = argv[2:]
    queries = sorted(set.intersection(*(set(r) for r in parent + change)))
    missing = [c for c in controls if c not in queries]
    if missing:
        sys.exit(f"ab: control queries missing from a run: {', '.join(missing)}")

    ratio = {q: median(change, q) / median(parent, q) for q in queries}
    adj = statistics.median(ratio[c] for c in controls) if controls else 1.0
    width = max([len(q) for q in queries] + [5])
    print(f"{'query':<{width}}  parent_s  change_s   ratio  adjusted  parent_iqr")
    for q in queries:
        p, c, spread = median(parent, q), median(change, q), iqr(parent, q)
        note = "" if spread is None else f"{spread:10.3f}" + ("  slower" if c - p > spread else "")
        tag = "  (control)" if q in controls else ""
        print(f"{q:<{width}}  {p:8.3f}  {c:8.3f}  {ratio[q]:6.3f}  {ratio[q] / adj:8.3f}  {note}{tag}")
    if controls:
        print(f"control median ratio: {adj:.3f} over {', '.join(controls)}")


if __name__ == "__main__":
    main(sys.argv[1:])
