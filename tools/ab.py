#!/usr/bin/env python3
"""Paired A/B of graft.Bench or perfbench runs.

Usage: python3 tools/ab.py PARENT CHANGE [CONTROL_QUERY ...]

PARENT and CHANGE are each one output file or a comma-separated list of
them, one per run of a paired series. The kind of run is read from the
file: a perfbench record (below) or else its last non-empty line.

graft.Bench (SPARK_GRAFT_BENCH_OUT: one JSON line whose "queries" maps
each passing query to its min seconds over reps): a query's seconds are
the median over its runs, and the parent's quartile distance (IQR) over
its runs is shown, with `slower` marking a change median above the
parent median by more than that IQR. For each query present on both
sides it prints parent s, change s and change/parent. Given control
queries (ones the change does not touch), it then prints their median
ratio, which is the host's drift between the sides, and each query's
ratio divided by it.

perfbench/run.py (its stdout, whose last line is one JSON object with
"metrics"): the i-th parent run and the i-th change run form pair i, so
list both sides in run order. For each metric present in every run it
prints the medians, the parent's IQR, change/parent, the pairs the
change won (better in the direction BENCHMARK.json gives, lower when it
names none), and whether a claimed gain would hold: `9/10` when the
change won at least 90% of the pairs, `gap` when its median beats the
parent's by more than the parent's IQR.

perfbench records (.bench_build/records/*.json, or that directory, which
stands for every record in it): each record's "unit_sub_ms" holds the
median time per pass of each store phase of rdf_ingest. For each phase
(ingest, persist, restore, lookup, mutation, insert, remove, repersist)
it prints the median per side over the records, change - parent,
change/parent and the parent's IQR, so a store change names the phase
it moved. Records need not pair up; records without any store phase
(other workloads) are skipped.

Exits 1 when an input file is unreadable, the sides mix kinds or differ
in run count (perfbench), or a control query is missing from either side.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_json(path):
    try:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        return json.loads(lines[-1])
    except (OSError, ValueError, IndexError) as e:
        sys.exit(f"ab: cannot read run output {path}: {e}")


# rdf_ingest's store phases, in the order a pass runs them
PHASES = ("ingest_ms", "persist_ms", "restore_ms", "lookup_ms", "mutation_ms",
          "insert_ms", "remove_ms", "repersist_ms")


def record(path):
    """A perfbench record (one JSON document holding "unit_sub_ms"), else
    None."""
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    return rec if isinstance(rec, dict) and isinstance(rec.get("unit_sub_ms"), dict) else None


def load(spec):
    """(kind, runs): kind is "queries" (graft.Bench), "metrics"
    (perfbench stdout) or "phases" (perfbench records); each run maps a
    name to its number."""
    kinds, runs = set(), []
    paths = []
    for path in spec.split(","):
        paths += (sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
                  if os.path.isdir(path) else [path])
    for path in paths:
        rec = record(path)
        if rec is not None:
            kinds.add("phases")
            phases = {k: v for k, v in rec["unit_sub_ms"].items() if k in PHASES}
            if phases:
                runs.append(phases)
            continue
        rec = last_json(path)
        if isinstance(rec.get("queries"), dict):
            kinds.add("queries")
            runs.append(rec["queries"])
        elif isinstance(rec.get("metrics"), dict):
            kinds.add("metrics")
            runs.append({k: v["value"] for k, v in rec["metrics"].items()
                         if isinstance(v, dict) and isinstance(v.get("value"), (int, float))})
        else:
            sys.exit(f"ab: {path}: last line has neither \"queries\" nor \"metrics\"")
    if len(kinds) != 1:
        sys.exit(f"ab: {spec} mixes graft.Bench outputs, perfbench outputs and records")
    if not runs:
        sys.exit(f"ab: {spec} holds no rdf_ingest store phases")
    return kinds.pop(), runs


def median(runs, q):
    return statistics.median(r[q] for r in runs)


def iqr(runs, q):
    xs = [r[q] for r in runs]
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def directions():
    """Metric name -> "lower" or "higher", from BENCHMARK.json."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m.get("better", "lower")
            for key in ("end_to_end", "per_layer") for m in bench.get(key, [])}


def bench_report(parent, change, controls):
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


def perfbench_report(parent, change):
    if len(parent) != len(change):
        sys.exit(f"ab: {len(parent)} parent runs against {len(change)} change runs; "
                 "perfbench runs are read as pairs")
    better = directions()
    names = [m for m in parent[0] if all(m in r for r in parent + change)]
    width = max([len(m) for m in names] + [6])
    n = len(parent)
    print(f"{'metric':<{width}}  {'parent':>12}  {'change':>12}  {'parent_iqr':>12}   ratio  "
          f"won  rules")
    for m in names:
        sign = -1 if better.get(m, "lower") == "higher" else 1
        p, c = median(parent, m), median(change, m)
        spread = iqr(parent, m) or 0.0
        won = sum(sign * (cr[m] - pr[m]) < 0 for pr, cr in zip(parent, change))
        rules = [r for r, ok in (("9/10", won >= 0.9 * n), ("gap", sign * (p - c) > spread)) if ok]
        ratio = f"{c / p:6.3f}" if p else "     -"
        print(f"{m:<{width}}  {p:12.6g}  {c:12.6g}  {spread:12.6g}  {ratio}  "
              f"{won:>2}/{n:<2} {' '.join(rules) or '-'}")


def phase_report(parent, change):
    print(f"parent {len(parent)} records, change {len(change)} records")
    print(f"{'phase':<13}  {'parent_ms':>10}  {'change_ms':>10}  {'delta_ms':>9}   ratio  "
          f"{'parent_iqr':>10}")
    for ph in PHASES:
        ps, cs = [r for r in parent if ph in r], [r for r in change if ph in r]
        if not ps or not cs:
            continue
        p, c = median(ps, ph), median(cs, ph)
        ratio = f"{c / p:6.3f}" if p else "     -"
        print(f"{ph:<13}  {p:10.1f}  {c:10.1f}  {c - p:+9.1f}  {ratio}  "
              f"{iqr(ps, ph) or 0.0:10.1f}")


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    (pkind, parent), (ckind, change) = load(argv[0]), load(argv[1])
    if pkind != ckind:
        sys.exit("ab: one side holds graft.Bench outputs, the other perfbench outputs")
    if pkind == "queries":
        bench_report(parent, change, argv[2:])
    elif argv[2:]:
        sys.exit("ab: control queries apply to graft.Bench outputs only")
    elif pkind == "phases":
        phase_report(parent, change)
    else:
        perfbench_report(parent, change)


if __name__ == "__main__":
    main(sys.argv[1:])
