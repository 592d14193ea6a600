#!/usr/bin/env python3
"""graft benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload W --full        # every query of W, checked
    python3 perfbench/run.py --record FILE              # expected outputs, all queries
    python3 perfbench/run.py --profile FILE             # warm time of every query

Workloads (BENCHMARK.json says why each was chosen):
  queries      a fixed sample of the registered queries (SparkEntry.queries),
               stratified over query groups by measured warm time (see
               sample()); the seed orders them
  rdf_ingest   a seeded RDF/XML corpus of the reference dumps' shape through
               the store: ingest, persist, restore, lookups, mutations,
               re-persist
--full runs every query of one family (sparql, curation, pipelines) or,
for --workload queries, all of them, each twice, and checks each output.
--profile does --full over all queries and writes each query's second
(warm) time to FILE; perfbench/profile.json is that file, and sample()
draws the timed queries from it.

The first run builds the engine and the harness from source with sbt
(outputs under .bench_build/). Each run prints one line per metric
(workload, name, value, unit) and, last, one JSON object with correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. A traced run also writes its spans to
.bench_build/traces/ and every run writes its record to .bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")  # build.sbt's target is under it
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected.json")
PROFILE = os.path.join(BENCH, "profile.json")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import rdfgen  # noqa: E402

# rdf_ingest corpus: (files, papers per file, mutations). The reference
# conference dumps hold 24 files, about 172k triples, and were measured with
# 30 mutations; the workload's corpus has two thirds of their files and
# triples and 12 mutations, which keeps a run near a minute. The probe is a
# small corpus that warms rdf_ingest up and that a traced run of the other
# workload measures the store on.
RDF_SIZE = {"workload": (16, 390, 12), "probe": (3, 40, 2)}
JVM_TIMEOUT_S = {"timed": 170, "full": 1800, "record": 1800}
# timed queries per second of --seconds
QUERIES_PER_SECOND = 0.48
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against (the
    unmanagedBase of build.sbt), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    die("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless this source tree is built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) next to the benchmark")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        die(f"build failed (exit {rc}), see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def group(query):
    """Query group: the name's first word, with the RAG pipelines (doc_rag_*)
    and the streaming event queries (ev_stream_*) as groups of their own."""
    for sub in ("doc_rag_", "ev_stream_"):
        if query.startswith(sub):
            return sub.rstrip("_")
    return re.sub(r"\d+$", "", query.split("_")[0])


def sample(profile, n):
    """The timed queries of the queries workload, from the warm time of every
    checked query (profile, in ms). Each group gets slots in proportion to
    its share of the total warm time, rounded down but at least one; the
    slots left go to the largest remainders. Within a group, the queries at
    evenly spaced quantiles of its warm times fill its slots."""
    groups = {}
    for q, ms in profile.items():
        groups.setdefault(group(q), []).append((ms, q))
    total = sum(profile.values())
    share = {g: sum(ms for ms, _ in qs) / total for g, qs in groups.items()}
    quota = {g: share[g] * n for g in groups}
    slots = {g: max(1, int(quota[g])) for g in groups}
    rest = max(0, n - sum(slots.values()))
    for g in sorted(groups, key=lambda g: (quota[g] - slots[g], g), reverse=True)[:rest]:
        slots[g] += 1
    picked = []
    for g, qs in sorted(groups.items()):
        qs.sort()
        k = min(slots[g], len(qs))
        picked += [qs[int((i + 0.5) * len(qs) / k)][1] for i in range(k)]
    return sorted(picked)


def git_commit():
    """HEAD of the repository this tree was checked out of, when it is one."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "--git-dir", os.path.join(ROOT, ".git"), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def load_avg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_jvm(classes, args, run_dir, cpus, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main",
           "--cpus", str(cpus), "--data", DATA, "--run-dir", run_dir, "--expected", EXPECTED, *args]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
        for line in fh:
            if line.startswith("perfbench: "):
                sys.stderr.write(line)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
            lines = [ln for ln in fh if not ln.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(lines[-30:]))
        die(f"benchmark JVM ended with {rc}")
    with open(result) as fh:
        return json.load(fh), dir_bytes(tmp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true", help="run every query of the workload once")
    ap.add_argument("--record", metavar="FILE", help="write expected outputs of every query")
    ap.add_argument("--profile", metavar="FILE", help="write the warm time of every query")
    a = ap.parse_args()
    if a.profile:
        a.full, a.workload = True, "queries"

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    whys = {w["name"]: w["why"] for w in spec["workloads"]}
    families = ("sparql", "curation", "pipelines")
    if not a.record and a.workload not in whys and not (a.full and a.workload in families):
        die(f"unknown workload {a.workload!r}; one of {sorted(whys)}")
    if not os.path.isdir(DATA):
        die(f"missing corpus {DATA}")
    classes = build()

    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload or 'record'}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload or "all", "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    mode = "record" if a.record else "full" if a.full else "timed"
    args += ["--mode", mode]
    if a.record:
        args += ["--out", os.path.abspath(a.record)]
    timed_queries = None
    if a.workload == "queries" and not a.full:
        with open(PROFILE) as fh:
            timed_queries = sample(json.load(fh), max(1, round(a.seconds * QUERIES_PER_SECOND)))
        args += ["--queries", ",".join(timed_queries)]
    if a.workload == "rdf_ingest" and not a.full:
        rdfgen.write_corpus(os.path.join(run_dir, "corpus"), a.seed, *RDF_SIZE["workload"])
        args += ["--corpus", os.path.join(run_dir, "corpus")]
    if a.trace or a.workload == "rdf_ingest":
        rdfgen.write_corpus(os.path.join(run_dir, "probe"), a.seed, *RDF_SIZE["probe"])
        args += ["--probe-corpus", os.path.join(run_dir, "probe")]

    load_start = load_avg()
    t_launch = time.time()
    try:
        res, tmp_left = run_jvm(classes, args, run_dir, cpus, JVM_TIMEOUT_S[mode])
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # set-up: from launching the JVM to a session with its functions and
    # tables registered and every table scanned
    metrics = dict(res["metrics"])
    metrics["setup_s"] = res["ready_epoch_ms"] / 1000 - t_launch
    metrics["operators.tmp_bytes_left"] = tmp_left
    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    failed = int(res["failed"])
    out = {name: {"value": metrics[name], "unit": unit}
           for name, unit in units.items() if metrics.get(name) is not None}
    missing = sorted(set(units) - set(out)) if not (a.full or a.record) else []
    for f in res["failures"]:
        print(f"perfbench: failed {f}", file=sys.stderr)

    record = {
        "workload": a.workload, "why": whys.get(a.workload), "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "nproc": cpus, "load_avg_start": load_start,
        "load_avg_end": load_avg(), "jvm_heap_max_mb": res["heap_max_mb"],
        "git_commit": git_commit(), "source_digest": source_digest(), "timed_queries": timed_queries,
        "units": res["units"],
        "unit_ms": res["executions"], "unit_sub_ms": res["sub_ms"], "failures": res["failures"], "metrics": metrics,
    }
    if a.profile:
        with open(a.profile, "w") as fh:
            json.dump(dict(sorted(res["executions"].items())), fh, indent=0)
            fh.write("\n")
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)

    for name, m in out.items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    if a.full or a.record:
        print(f"{a.workload} failed_frac {failed / max(1, int(res['attempted'])):.6g} fraction")
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": int(res["attempted"]), "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
