#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload scan-pushdown --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark and the
program's sources with sbt (perfbench/build.sbt); later runs reuse the
build while no source is newer than it. Each run starts one JVM over a
private run directory, which is deleted afterwards. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). A detail file per run, with per-class latencies, drift
between the window's halves, host steal ticks and, when traced, the
spans, goes to perfbench/out/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
OUT_DIR = os.path.join(HERE, "out")
RUNS_DIR = os.path.join(HERE, ".runs")
DEADLINE_S = 170.0
HEAP = "3g"

WORKLOADS = ("scan-pushdown", "stream-ingest", "pipeline-jobs")


def metric_units():
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_mtime():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(top):
            files.extend(os.path.join(dirpath, n) for n in names)
    return max(os.path.getmtime(f) for f in files if os.path.exists(f))


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def steal_ticks():
    """Host steal ticks summed over CPUs (/proc/stat, read only)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except OSError:
        return 0


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, run_dir, out_file, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--out", out_file]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run exceeded its time budget")
    if rc != 0 or not os.path.exists(out_file):
        raise SystemExit("benchmark JVM failed with exit code %d" % rc)


def dup_clusters(con):
    """d5_dup_clusters' expected rows by the definition its oracle SQL
    states: distinct 5-token shingles of the whitespace-split text, all
    document pairs with Jaccard >= 0.8 (rounded to 6 places), connected
    components over those pairs, and for each paired document the least
    doc_id of its component. Computed here because DuckDB takes about
    half a minute over the list functions of that SQL at 500 documents;
    this takes under a second."""
    shingles = {}
    for doc, text in con.sql("SELECT doc_id, text FROM documents").fetchall():
        toks = text.split()
        shingles[doc] = {" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)}
    root = {}

    def find(x):
        while root[x] != x:
            x = root[x]
        return x
    ids = sorted(shingles)
    for n, a in enumerate(ids):
        sa = shingles[a]
        for b in ids[n + 1:]:
            inter = len(sa & shingles[b])
            if inter and round(inter / len(sa | shingles[b]), 6) >= 0.8:
                root.setdefault(a, a)
                root.setdefault(b, b)
                ra, rb = find(a), find(b)
                root[max(ra, rb)] = min(ra, rb)
    return sorted((d, find(d)) for d in root)


# Queries whose expected rows come from a model here instead of their
# oracle SQL, with the model's column names.
MODELS = {"d5_dup_clusters": (["doc_id", "cluster"], dup_clusters)}


def oracle_check(run_dir):
    """Compare each pipeline query's first timed result (written by the
    JVM as parquet) with DuckDB running the program's oracle SQL, or
    with a model in MODELS, over the same generated inputs. Returns
    {query: (ok, message)}."""
    import duckdb
    res_dir = os.path.join(run_dir, "results")
    with open(os.path.join(res_dir, "oracle.json")) as f:
        spec = json.load(f)
    oracle = spec["queries"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(spec["inputs"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/*.parquet'" % (name, p))
    out = {}
    for q, sql in sorted(oracle.items()):
        got_dir = os.path.join(res_dir, q)
        t0 = time.time()
        try:
            got_sql = "SELECT * FROM '%s/*.parquet'" % got_dir
            if q in MODELS:
                want_cols, want = MODELS[q][0], MODELS[q][1](con)
            else:
                rel = con.sql(sql)
                want_cols, want = rel.columns, rel.fetchall()
            if con.sql(got_sql).columns != want_cols:
                out[q] = (False, "columns %s vs %s" % (con.sql(got_sql).columns, want_cols))
                continue
            got = con.sql(got_sql).fetchall()
            if sorted(tuple(map(str, r)) for r in got) != sorted(tuple(map(str, r)) for r in want):
                out[q] = (False, "%d rows vs %d expected, values differ" % (len(got), len(want)))
            else:
                out[q] = (True, "%d rows, expected rows in %.1f s" % (len(got), time.time() - t0))
        except Exception as e:  # a query the oracle cannot run counts as failed
            out[q] = (False, str(e)[:300])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found next to perfbench/ (src/main/scala/graft)")
    metric_units()  # fail before building if BENCHMARK.json is missing
    cp = build()
    t_start = time.time()  # a first run's build does not count against the run
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.join(RUNS_DIR, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "result.json")
    try:
        steal0 = steal_ticks()
        budget = max(30.0, DEADLINE_S - (time.time() - t_start))
        run_jvm(cp, args, run_dir, out_file, budget)
        steal = steal_ticks() - steal0
        with open(out_file) as f:
            res = json.load(f)
        t_oracle = time.time()
        checks = oracle_check(run_dir) if args.workload == "pipeline-jobs" else {}
        oracle_s = time.time() - t_oracle
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_checks = [q for q, (ok, _) in checks.items() if not ok]
    for q in failed_checks:
        log("oracle check failed for %s: %s" % (q, checks[q][1]))
    attempted = res["attempted"]
    failed = res["failed"] + len(failed_checks)
    end_to_end, per_layer = metric_units()
    values, units = (res["per_layer"], per_layer) if args.trace else (res["end_to_end"], end_to_end)
    # a layer metric that does not apply to the workload reads 0
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    detail = dict(res)
    detail.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "steal_ticks": steal, "oracle_s": oracle_s,
                   "run_s": time.time() - t_start,
                   "oracle": {q: {"ok": ok, "msg": m} for q, (ok, m) in checks.items()}})
    name = "%s-s%d-t%d-%d.json" % (args.workload, args.seed, args.trace, int(time.time()))
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(detail, f)
    print(json.dumps({"correct": failed == 0 and res["warmup_failed"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
