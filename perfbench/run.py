#!/usr/bin/env python3
"""Benchmark of the Spark engine: the Xetra/Eurex ETL job and the analytics
its data model is built for.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client, closed loop, local[nproc], one JVM per run):
  etl_ingest     seeded hourly Xetra/Eurex CSVs plus the product dimension;
                 each operation runs XetraPipeline.run then
                 EurexPipeline.run into a fresh output directory.
  analytics_mix  20 sub-second declared analytics over the bundled sf0.01
                 tables, in a seeded order; per-query fixed cost dominates.
  heavy_tail     9 data-bound queries (near-dup, linkage, vector search,
                 text, iterative graph walk and trainer, skew join) in
                 declared order, after building their artifacts into an
                 empty warehouse and index directory.

Every operation is timed end to end: the query builder plus a parquet
write of the complete result, shaped like graft.Verify's dump. Outside the
timed phase each query's last output is compared with its DuckDB oracle the
way tools/validate.py does, and the ETL outputs with the counts the
generator planted. An operation that throws or gives a wrong result counts
in `failed` and stays out of every latency and throughput figure.

A run times whole units of work (one ETL job, or one pass over the query
set in a seeded order) until --seconds have passed, at least one. wall_s is
the first unit, in a fresh JVM and session: what a submitted job pays.

--trace 0 prints the end-to-end metrics; --trace 1 runs traced, untraced,
traced and untraced phases in one JVM and prints the per-layer metrics of
the first phase (per unit of work), plus trace.overhead_ratio (the second
traced phase over the mean of the untraced phases around it); its spans
and counters are written to .bench_build/traces/. The last stdout line is
one JSON object.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, "data", "sf0.01")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_ingest", "analytics_mix", "heavy_tail")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
SBT = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
       "-Dsbt.override.build.repos=true",
       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
       "-Dsbt.offline=true"]
# Spark needs these when it runs outside spark-submit on JDK 17.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "queries_per_s": "1/s", "input_rows_per_s": "rows/s", "output_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "etl.xetra_run_s": "s", "etl.eurex_run_s": "s",
    "sources.csv_rows_read": "count", "sources.corrupt_rows": "count",
    "sources.shingles_s": "s", "sources.tokens_s": "s", "sources.pairs_s": "s",
    "sources.ivf_pq_s": "s",
    "sink.files": "count", "sink.bytes": "bytes", "sink.rows": "count",
    "entry.build_s": "s",
    **{f"ops.{f}.wall_s": "s" for f in ("Relational", "TimeSeries", "EventOps", "Profiling",
                                          "TextOps", "VectorOps", "Linkage", "Graph", "Classify")},
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s", "scheduler.delay_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s", "executor.cpu_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "shuffle.exchanges": "count", "memory.spill_bytes": "bytes", "driver.result_bytes": "bytes",
    "host.steal_s": "s", "trace.overhead_ratio": "ratio",
}


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    files = []
    for top in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the engine with the harness once per source state."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "harness.stamp")
    cp_file = os.path.join(BUILD, "harness.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        proc = subprocess.run(SBT + ["compile", "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("harness build timed out")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("harness build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def run_harness(classpath, args, work):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss64m", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--data", DATA,
            "--cores", str(len(os.sched_getaffinity(0)))])
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        log.close()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(result) as fh:
        return json.load(fh)


def check_queries(res):
    """Names of queries whose last timed output differs from the oracle."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from validate import compare, load_spark
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{res['data_dir']}/{t}.parquet'")
    wrong = {}
    for name in res["queries"]:
        sql = res["oracle_sql"].get(name)
        got = load_spark(res["out_dir"], name)
        if sql is None or got is None:
            wrong[name] = "no oracle" if sql is None else "no output"
            continue
        try:
            problems = compare(name, got, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run leaves the output unchecked
            problems = [f"oracle error: {e}"]
        if problems:
            wrong[name] = "; ".join(problems)[:300]
    con.close()
    return wrong


def check_etl(res):
    """Problems found comparing the ETL outputs with the generator's counts."""
    import duckdb
    exp, out = res["etl_expected"], res["etl_out"]
    con = duckdb.connect()

    def scalar(sql):
        return con.execute(sql).fetchone()[0]

    def parts(path):
        return sorted(os.path.basename(p).split("=", 1)[1] for p in glob.glob(f"{path}/trading_date=*"))

    hive = "hive_partitioning=1, hive_types_autocast=0"
    got = {
        "xetra_rows": scalar(f"SELECT count(*) FROM read_parquet('{out}/xetra/data/xetra/*/*.parquet')"),
        "xetra_corrupt": scalar(f"SELECT count(*) FROM '{out}/xetra/quality_check/corrupt_rows/*.parquet'"),
        "eurex_rows": scalar(f"SELECT count(*) FROM read_parquet('{out}/eurex/data/eurex/*/*.parquet')"),
        "eurex_corrupt": scalar(f"SELECT count(*) FROM '{out}/eurex/quality_check/corrupt_rows/*.parquet'"),
        "missing_isin_pairs": scalar(
            "SELECT count(*) FROM (SELECT DISTINCT market_segment, mleg FROM read_parquet("
            f"'{out}/eurex/quality_check/missing_isin/*/*.parquet', {hive}))"),
        "missing_underlying_pairs": scalar(
            "SELECT count(*) FROM (SELECT DISTINCT market_segment, mleg FROM read_parquet("
            f"'{out}/eurex/quality_check/missing_underlying/*/*.parquet', {hive}))"),
        "xetra_dates": parts(f"{out}/xetra/data/xetra"),
        "eurex_dates": parts(f"{out}/eurex/data/eurex"),
    }
    con.close()
    return [f"{k}: {got[k]} != {exp[k]}" for k in got if got[k] != exp[k]]


def percentile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def unit_times(phase, per_unit, wrong):
    """Seconds of each complete unit of work whose operations all succeeded."""
    by_pass = {}
    for o in phase["ops"]:
        by_pass.setdefault(o["pass"], []).append(o)
    return [sum(o["s"] for o in ops) for _, ops in sorted(by_pass.items())
            if len(ops) == per_unit and all(o["error"] is None and o["name"] not in wrong for o in ops)]


def unit_seconds(phase, wrong):
    ok = [o for o in phase["ops"] if o["error"] is None and o["name"] not in wrong]
    return sum(o["s"] for o in ok) / max(phase["units"], 1e-9)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("run from the root of a checkout: the engine sources are missing", 2)
    if not os.path.isdir(DATA):
        fail(f"missing bundled tables {DATA}", 2)

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_harness(classpath, args, work)
        etl = args.workload == "etl_ingest"
        wrong, problems = {}, []
        if etl:
            problems = check_etl(res)
            if problems:
                wrong["etl_job"] = "; ".join(problems)
        else:
            wrong = check_queries(res)
            problems = [f"{q}: {p}" for q, p in wrong.items()]
            problems += [f"{q}: plan check {v}" for q, v in res["plan_check"].items() if v != "ok"]
        if args.trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.move(res["trace_file"], os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        if not etl:
            output_bytes = sum(os.path.getsize(f) for f in
                               glob.glob(os.path.join(res["out_dir"], "*", "*.parquet")))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    phases = res["phases"]
    all_ops = [o for p in phases for o in p["ops"]]
    failed = sum(1 for o in all_ops if o["error"] is not None or o["name"] in wrong)
    for o in all_ops:
        if o["error"] is not None:
            problems.append(f"{o['name']} threw: {o['error'][:200]}")
    main_phase = phases[0]
    ok = [o for o in main_phase["ops"] if o["error"] is None and o["name"] not in wrong]
    report = []
    if args.trace:
        layers = dict(main_phase["layers"])
        walls = [unit_seconds(p, wrong) for p in phases]
        untraced = (walls[1] + walls[3]) / 2
        layers["trace.overhead_ratio"] = walls[2] / untraced if untraced > 0 else 0.0
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    elif ok:
        units = unit_times(main_phase, 1 if etl else len(res["queries"]), wrong)
        ms = [o["s"] * 1000 for o in ok]
        busy = sum(o["s"] for o in ok)
        if etl:
            in_rows = res["etl_input_rows"] * len(ok)
            out_ratio = res["etl_output_bytes"] / res["etl_input_bytes"]
        else:
            import duckdb
            files = {t: os.path.join(DATA, f"{t}.parquet") for t in TABLES}
            sizes = {t: os.path.getsize(f) for t, f in files.items()}
            rows = {t: duckdb.sql(f"SELECT count(*) FROM '{f}'").fetchone()[0] for t, f in files.items()}
            in_rows = sum(rows[t] for o in ok for t in res["tables_read"].get(o["name"], []))
            in_bytes = sum(sizes[t] for ts in res["tables_read"].values() for t in ts)
            out_ratio = output_bytes / in_bytes
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "wall_s": units[0] if units else busy,
            "peak_rss_mb": res["peak_rss_mb"],
            "op_p50_ms": statistics.median(ms),
            "op_p90_ms": percentile(ms, 0.9),
            "queries_per_s": len(ok) / busy,
            "input_rows_per_s": in_rows / busy,
            "output_bytes_per_input_byte": out_ratio,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        beyond = sum(1 for x in ms if x > values["op_p90_ms"])
        report.append(f"samples {len(ms)} ops, {beyond} beyond op_p90_ms; "
                      f"{len(units)} complete units; steal {main_phase['steal_s']:.2f} s")
    else:
        metrics = {}
    for k, v in metrics.items():
        report.append(f"{k:32s} {v['value']:.6g} {v['unit']}")
    correct = not problems and failed == 0
    report.append("correct" if correct else "INCORRECT: " + " | ".join(problems)[:2000])
    print("\n".join(report))
    print(json.dumps({"correct": correct, "attempted": len(all_ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
