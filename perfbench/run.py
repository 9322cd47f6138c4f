#!/usr/bin/env python3
"""Steady-state benchmark of the engine's ETL, dashboard and streaming paths.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 8 --trace 0

It builds the harness (perfbench/harness, compiled together with
src/main) when its sources changed, runs one JVM for the workload,
checks the outputs against DuckDB oracles and prints one JSON result as the last line of stdout. See
perfbench/README.md for the workloads, metrics and traced run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, ".work")
# the sf0.01 test tables, read-only (see README.md)
DATA = os.path.join(BENCH, "data", "sf0.01")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "perfbench-build.stamp")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]
DEADLINE_S = 170

# Fewest timed passes per workload; more run until --seconds have passed.
# One ETL pass already takes longer than the run's timed window, and a
# second would push a run past its time budget (see README.md).
MIN_TIMED_PASSES = {"dashboard_mix": 2, "etl_pipeline": 1, "stream_backlog": 2}

END_TO_END = {"setup_s": "s", "steady_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "peak_rss_mb": "MB"}

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    files = []
    for d in ("src/main/scala", "src/main/resources", "perfbench/harness/src"):
        files += glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True)
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(HARNESS, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL,
                            timeout=max(60, deadline - time.time())).returncode
    if rc != 0:
        fail(f"harness build failed (exit {rc}), see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, data, work, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cp = CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dperfbench.scratch={work}/scratch",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--min-passes", str(MIN_TIMED_PASSES[args.workload]),
        "--trace", str(args.trace), "--data", data, "--work", work,
        "--cpus", str(os.cpu_count()),
        "--launch-us", str(time.time_ns() // 1000)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {DEADLINE_S} s, see {work}/jvm.log")
    if rc != 0:
        fail(f"JVM exited {rc}, see {work}/jvm.log")
    with open(os.path.join(work, "record.json")) as fh:
        return json.load(fh)


def same_rows(con, result_dir, oracle_sql):
    """The selfcheck comparison: same columns, row count and values after
    sorting every column; None when equal, else a reason."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result parquet"
    got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    want = con.sql(oracle_sql).df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g = got[gc].sort_values(gc).reset_index(drop=True)
    w = want[wc].sort_values(wc).reset_index(drop=True)
    for c in gc:
        a, b = g[c], w[c]
        try:
            same = (a.fillna("__null__") == b.fillna("__null__")).all() \
                if a.dtype == object else ((a == b) | (a.isna() & b.isna())).all()
        except Exception:
            same = list(a) == list(b)
        if not same:
            return f"value mismatch in {c}"
    return None


def check_outputs(record, data):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for c in record["checks"]:
        try:
            why = same_rows(con, c["dir"], c["oracle_sql"])
        except Exception as e:  # an oracle or read error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad.append({"name": c["name"], "why": why})
    con.close()
    return bad


def end_to_end(record):
    timed = [p for p in record["passes"] if p["kind"] == "timed"]
    ops = [o["wall_s"] for p in timed for o in p["ops"] if not o["failed"]]
    # A run has 2 to 20 op samples, too few for a percentile with ten
    # samples beyond it; p90 (interpolated) is the tail (see README.md).
    tail = statistics.quantiles(ops, n=10, method="inclusive")[-1] \
        if len(ops) > 1 else max(ops or [0.0])
    return {
        "setup_s": record["setup"]["total_s"],
        "steady_s": statistics.median(p["wall_s"] for p in timed),
        "op_p50_s": statistics.median(ops or [0.0]),
        "op_tail_s": tail,
        "peak_rss_mb": record["peak_rss_mb"],
    }, {"cold_s": record["passes"][0]["wall_s"], "op_samples": len(ops),
        "op_tail_percentile": 0.9}


def per_layer(record):
    layers = record["layers"]
    m = dict(layers["metrics"])
    c = record["contention"]
    m["jvm.jit_cpu_s"] = c["jvm_jit_cpu_s"]
    m["jvm.gc_s"] = c["jvm_gc_s"]
    m["jvm.runq_wait_s"] = c["jvm_runq_wait_s"]
    m["jvm.old_gen_peak_mb"] = record["old_gen_peak_mb"]
    plain = [p["wall_s"] for p in record["passes"] if p["kind"] == "timed"]
    traced = [p["wall_s"] for p in record["passes"] if p["kind"] == "traced"]
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MIN_TIMED_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    for need in ("src/main/scala/graft/SparkEntry.scala", "perfbench/harness/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        fail("SPARK_HOME must point at the Spark install the engine builds with")
    if not os.path.exists(STAMP):  # the first run of a checkout builds
        deadline = time.time() + 900 - 30
    build(deadline)
    if deadline - time.time() > DEADLINE_S:
        deadline = time.time() + DEADLINE_S

    data = DATA
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = run_jvm(args, data, work, deadline)

    bad = check_outputs(record, data)
    timed_ops = [o for p in record["passes"] if p["kind"] in ("timed", "traced")
                 for o in p["ops"]]
    attempted = len(timed_ops) + len(record["checks"])
    failed = sum(o["failed"] for o in timed_ops) + len(bad)

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(per_layer(record).items())}
        info = {"self_time_s": record["layers"]["self_time_s"],
                "untraced_pass_s": [p["wall_s"] for p in record["passes"]
                                    if p["kind"] == "timed"],
                "traced_pass_s": [p["wall_s"] for p in record["passes"]
                                  if p["kind"] == "traced"]}
    else:
        e2e, info = end_to_end(record)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    summary = dict(info, workload=args.workload, seed=args.seed,
                   passes=[(p["kind"], round(p["wall_s"], 3)) for p in record["passes"]],
                   setup=record["setup"], contention=record["contention"],
                   old_gen_peak_mb=record["old_gen_peak_mb"],
                   failures=record["failures"], check_failures=bad,
                   record=os.path.relpath(os.path.join(work, "record.json"), ROOT))
    with open(os.path.join(work, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
