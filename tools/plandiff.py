#!/usr/bin/env python3
"""Diff two `graft.Dev explain` outputs query by query.

    python3 tools/plandiff.py A B

A and B are the saved stdout of two `sbt "runMain graft.Dev explain
<sfDir> [query...]"` runs (sbt's `[info] `/`[error] ` prefixes and
Spark's log lines may stay in). Each query's section starts at its
`========== <name> ==========` header. What differs between any two
sessions is normalized away: expression ids (`#123`), `plan_id=123`,
RDD ids and their call sites' line numbers (`MapPartitionsRDD[580] at
localCheckpoint at Fixpoint.scala:31`), the uuids of part files a
query wrote, and closure identities (`$Lambda$5719/0x…@6db0f5fb`).
Prints one line per query: `same`, `only in A`/`only in B`, or the
first differing lines of the two plans. Exits 1 when any query differs.
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
PREFIX = re.compile(r"^\[(info|error|warn)\] ?")
SPARK_LOG = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (INFO|WARN|ERROR|DEBUG) ")
NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # scan leaves over RDDs name the RDD id and the creating call site
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    # files a query wrote in its own session carry a fresh uuid
    (re.compile(r"part-(\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), r"part-\1-UUID"),
    # closures print their JVM class and identity hash
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
]


def sections(path):
    """query name -> normalized plan lines, in file order"""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = PREFIX.sub("", raw.rstrip("\n"))
            if line.startswith("[success]") or SPARK_LOG.match(line):
                continue
            m = HEADER.match(line)
            if m:
                cur = out.setdefault(m.group(1), [])
                continue
            if cur is not None:
                for rx, rep in NORMALIZE:
                    line = rx.sub(rep, line)
                cur.append(line)
    return {k: [l for l in v if l.strip()] for k, v in out.items()}


def first_diff(a, b, context=3):
    for i in range(max(len(a), len(b))):
        la = a[i] if i < len(a) else "<end>"
        lb = b[i] if i < len(b) else "<end>"
        if la != lb:
            return i, a[i:i + context] or ["<end>"], b[i:i + context] or ["<end>"]
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: plandiff.py A B")
    a, b = sections(argv[1]), sections(argv[2])
    differ = False
    for name in list(a) + [n for n in b if n not in a]:
        if name not in b or name not in a:
            print(f"{name}: only in {'A' if name in a else 'B'}")
            differ = True
            continue
        d = first_diff(a[name], b[name])
        if d is None:
            print(f"{name}: same")
            continue
        differ = True
        i, la, lb = d
        print(f"{name}: differs at plan line {i + 1}")
        for l in la:
            print(f"  A| {l}")
        for l in lb:
            print(f"  B| {l}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
