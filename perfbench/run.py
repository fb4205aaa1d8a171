#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: one command per workload.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/scala`) with the Scala
compiler shipped in the Spark jars into `.bench_build/classes`; later
runs reuse that build while the sources are unchanged. The JVM side
(`perfbench.Main`) runs the workload, checks every output and writes
`.bench_build/work/<workload>/result.json`; this launcher adds the
DuckDB oracle check for `cdc_batch`, aggregates, and prints one JSON
object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones (see README.md). `--smoke` runs the harness's own tests instead.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # runs leave nothing outside .bench_build

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORK = os.path.join(BUILD, "work")

WORKLOADS = ["live_tail", "cdc_batch"]

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "units_per_s": "1/s",
    "cpu_ms_per_unit": "ms",
    "live_heap_mb": "MB",
}

LAYERS = {
    "source.read_amplification": "ratio",
    "source.latest_offset_ms": "ms",
    "source.slice_ms": "ms",
    "source.scanned_per_returned": "ratio",
    "source.partitions_per_trigger": "count",
    "trigger.count": "count",
    "trigger.rows_p50": "count",
    "trigger.execution_ms": "ms",
    "trigger.planning_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.self_ms": "ms",
    "sink.write_batch_ms": "ms",
    "sink.jobs_per_batch": "count",
    "sink.files_per_batch": "count",
    "sink.bytes_per_event": "bytes",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "tasks.count": "count",
    "tasks.run_s": "s",
    "tasks.cpu_s": "s",
    "tasks.scheduler_delay_ms": "ms",
    "tasks.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "jvm.jit_s": "s",
    "jvm.jit_s_warmup": "s",
    "jvm.gc_s": "s",
    "query.build_s": "s",
    "query.execute_s": "s",
    "query.jobs_in_build": "count",
    "query.jobs": "count",
    "feeder.late_max_ms": "ms",
    "feeder.backlog_end_events": "count",
    "setup.session_s": "s",
    "env.nproc": "count",
    "env.loadavg1": "load",
    "env.steal_pct": "%",
    "env.host_busy_pct": "%",
    "trace.handler_ms": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.units_per_s": "1/s",
    "trace.cpu_ms_per_unit": "ms",
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

RUN_LIMIT_S = 170  # a run after the build must finish well inside 180 s


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else the `unmanagedBase`
    directory the repo's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build():
    """Compile engine + harness unless the build stamp matches the sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn",
           "-d", tmp, "@" + argfile]
    t = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


# --------------------------------------------------------------- inputs

TYPES = np.array(["click", "signup", "view", "purchase", "error"])


def write_events(path, n, seed):
    """Seeded `events` change-log table (the batch CDC queries' input):
    monotone event_id, unique increasing ts over January 2024, ~66
    events per user, five event types, 2-decimal values, `{"k": n}`
    props. One parquet file, one row group."""
    rng = np.random.default_rng(seed)
    span_us = 30 * 86400 * 10**6
    gap = span_us // (n + 1)
    ts = 1704067200 * 10**6 + np.cumsum(rng.integers(1, 2 * gap, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), n), type=pa.int64()),
        "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=n)


def batch_inputs(seed, smoke):
    base = os.path.join(WORK, "cdc_batch")
    write_events(os.path.join(base, "data", "events.parquet"),
                 2000 if smoke else 20000, seed)


# ------------------------------------------------------------------ run

def run_jvm(workloads, args, extra=(), deadline=None):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main", "--workload", ",".join(workloads),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", WORK, *extra]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(BUILD, "spark-local"))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    timeout = None if deadline is None else max(1.0, deadline - time.time())
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail("workload timed out", 3)
    if proc.returncode != 0:
        print(err[-4000:], file=sys.stderr)
        fail(f"JVM exited with {proc.returncode}", 4)


def pct(xs, p):
    """Linear-interpolated percentile, as the JVM side computes it."""
    s = sorted(xs)
    if not s:
        return 0.0
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def oracle_failures(result):
    """Names of cdc_batch queries whose parquet output does not hash-match
    the DuckDB replay of `SparkEntry.oracleSql` (canonicalised as
    tools/check.py does)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import canon
    base = os.path.join(WORK, "cdc_batch")
    oracle = json.load(open(os.path.join(base, "oracle_sql.json")))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(base, 'data', 'events.parquet')}'")
    bad = {}
    for q in result["detail"]["queries"]:
        name = q["name"]
        if q["error"] is not None:
            continue
        files = glob.glob(os.path.join(base, "out", name, "*.parquet"))
        if name not in oracle or not files:
            bad[name] = "no oracle or no output"
            continue
        try:
            _, _, sh, _ = canon(con, f"SELECT * FROM read_parquet({files!r})")
            _, _, oh, _ = canon(con, oracle[name])
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[name] = f"oracle error: {e}"
            continue
        if sh != oh:
            bad[name] = "digest mismatch"
    return bad


def batch_metrics(result, bad):
    """cdc_batch aggregation over the queries that neither threw nor
    mismatched the oracle; per-query figures are medians over passes."""
    qs = [q for q in result["detail"]["queries"]
          if q["error"] is None and q["name"] not in bad and q["build_s"]]
    tot = [pct([b + e for b, e in zip(q["build_s"], q["execute_s"])], 50) for q in qs]
    cpu = [pct(q["cpu_s"], 50) for q in qs]
    n = max(1, len(qs))
    e2e = dict(result["e2e"])
    e2e.update({
        "latency_p50_ms": pct(tot, 50) * 1e3,
        "latency_p99_ms": pct(tot, 99) * 1e3,
        "units_per_s": len(qs) / sum(tot) if tot else 0.0,
        "cpu_ms_per_unit": sum(cpu) / n * 1e3,
    })
    passes = result["detail"]["passes"]

    def per_pass(k):
        return pct([p[k] for p in passes], 50)

    actions = max(1.0, per_pass("actions"))
    layers = dict(result["layers"])
    layers.update({
        "query.build_s": sum(pct(q["build_s"], 50) for q in qs),
        "query.execute_s": sum(pct(q["execute_s"], 50) for q in qs),
        "query.jobs_in_build": per_pass("jobs_in_build"),
        "query.jobs": per_pass("jobs"),
        "plan.analysis_ms": per_pass("analysis_ms") / actions,
        "plan.optimization_ms": per_pass("optimization_ms") / actions,
        "plan.planning_ms": per_pass("planning_ms") / actions,
        "codegen.compiles": per_pass("compiles"),
        "codegen.compile_ms": per_pass("compile_ms"),
        "tasks.count": per_pass("tasks"),
        "tasks.run_s": per_pass("task_run_s"),
        "tasks.cpu_s": per_pass("task_cpu_s"),
        "tasks.scheduler_delay_ms": per_pass("scheduler_delay_ms"),
        "tasks.gc_s": per_pass("task_gc_s"),
        "shuffle.write_bytes": per_pass("shuffle_write_bytes"),
        "spill.bytes": per_pass("spill_bytes"),
        "jvm.jit_s": per_pass("jit_s"),
        "jvm.gc_s": per_pass("gc_s"),
        "jvm.jit_s_warmup": sum(result["detail"]["warmup_jit_s"]),
    })
    return e2e, layers


def collect(workload, trace):
    """Read the JVM's result for one workload and assemble the output."""
    path = os.path.join(WORK, workload, "result.json")
    if not os.path.exists(path):
        fail(f"{workload}: no result written", 4)
    result = json.load(open(path))
    attempted, failed = result["attempted"], result["failed"]
    e2e, layers = result["e2e"], result["layers"]
    if workload == "cdc_batch":
        bad = oracle_failures(result)
        failed += len(bad)
        e2e, layers = batch_metrics(result, bad)
        result["detail"]["oracle_failures"] = bad
    layers.update({"trace.latency_p50_ms": e2e["latency_p50_ms"],
                   "trace.units_per_s": e2e["units_per_s"],
                   "trace.cpu_ms_per_unit": e2e["cpu_ms_per_unit"]})
    names = LAYERS if trace else E2E
    src = layers if trace else e2e
    metrics = {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in names.items()}
    env = {k: layers.get(k) for k in ("env.nproc", "env.loadavg1",
                                       "env.steal_pct", "env.host_busy_pct")}
    return {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}, env, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run the harness's own tests (seconds)")
    args = ap.parse_args()
    build()
    if args.smoke:
        import test_smoke
        sys.exit(test_smoke.main())
    if not args.workload:
        ap.error("--workload is required")
    shutil.rmtree(os.path.join(WORK, args.workload), ignore_errors=True)
    deadline = time.time() + RUN_LIMIT_S
    if args.workload == "cdc_batch":
        batch_inputs(args.seed, smoke=False)
    run_jvm([args.workload], args, deadline=deadline)
    out, env, _ = collect(args.workload, args.trace)
    print("env " + json.dumps(env))
    print(json.dumps(out))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
