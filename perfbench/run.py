#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured, oracle-checked.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/harness) and caches the
classpath under .bench_build/; inputs are generated from the seed and
cached there too (perfbench/gen.py). Each run gets one scratch root
under .bench_build/runs/ holding the JVM's java.io.tmpdir,
spark.local.dir, warehouse, Derby home, sinks and outputs; it is
deleted at exit, after the bytes left in it are reported.

With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it carries the per-layer metrics of the
traced iterations, and the full span/counter trace is written to
.bench_build/traces/. Queries that fail the oracle or throw are named
on stderr and in the summary, and counted in pass_ratio.
"""
import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imported modules leave no __pycache__ behind

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
REQUIRED = ["src/main/scala/graft/SparkEntry.scala", "tools/verify_local.py",
            "perfbench/harness/build.sbt"]
RUN_LIMIT_S = 175  # a run ends within 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log("[perfbench] building engine + harness with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HARNESS, env=sbt_env(),
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit("[perfbench] build failed")
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), stamp)
    with open(stamp) as f:
        return f.read().strip()


def percentile(vals, q):
    """Nearest-rank percentile."""
    s = sorted(vals)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tree_bytes(path):
    n = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            with contextlib.suppress(OSError):
                n += os.lstat(os.path.join(d, f)).st_size
    return n


def run_jvm(cp, spec, args, data_dir, scratch, deadline):
    for sub in ("tmp", "local", "warehouse", "derby", "duckdb"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    qfile = os.path.join(scratch, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(spec["queries"]) + "\n")
    out = os.path.join(scratch, "result.json")
    trace_file = os.path.join(
        BUILD, "traces", f"{args.workload}-s{args.seed}.json") if args.trace else ""
    # fixed heap and young generation: the peak resident set then moves
    # with what the workload keeps, not with adaptive heap sizing
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m",
            "-XX:-UsePerfData",  # no hsperfdata file outside the scratch root
            # the JIT's quick compiler only: with the optimizing one, two
            # to three compiler threads are still busy a minute in, and
            # the timed iterations measure how far the JIT has got
            "-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=2",
            "-XX:ParallelGCThreads=2",
            f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dderby.system.home={scratch}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j.configurationFile=" + os.path.join(HARNESS, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--data", data_dir,
              "--raw", os.path.join(data_dir, "raw"),
              "--ingest", ",".join(spec.get("ingest", [])), "--scratch", scratch,
              "--queries", qfile, "--seconds", str(args.seconds),
              "--trace", str(args.trace),
              "--out", out, "--trace-file", trace_file])
    t0 = time.time_ns()
    proc = subprocess.Popen(cmd + ["--t0-epoch-ns", str(t0)], cwd=scratch,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] harness exceeded the run time limit")
    finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] harness exited {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def oracle_check(data_dir, res, scratch, queries):
    """verify_local.py's DuckDB hash protocol on the outputs the last
    timed iteration produced; returns {query: (ok, detail)}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import verify_local
    os.environ["GRAFT_DUCKDB_TMP"] = os.path.join(scratch, "duckdb")
    os.environ["GRAFT_DUCKDB_THREADS"] = "4"
    jout = os.path.join(scratch, "verify.json")
    with contextlib.redirect_stdout(sys.stderr):
        verify_local.main(data_dir, res["out_dir"], jout, set(queries))
    with open(jout) as f:
        got = json.load(f)["queries"]
    return {q: (got.get(q, {}).get("status") == "pass",
                got.get(q, {}).get("detail", "no output"))
            for q in queries}


def etl_checks(data_dir, scratch, tables):
    """Staged tables equal the generated ones; the merged orders equal
    the DuckDB application of the change batch."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{scratch}/duckdb'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    checks = {}

    def same(want_sql, got_sql):
        cols = con.execute(f"DESCRIBE {want_sql}").fetchall()
        sel = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in cols)
        got = f"SELECT {sel} FROM ({got_sql})"
        n = lambda a, b: con.execute(
            f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        return n(want_sql, got) + n(got, want_sql) == 0

    for t in tables:
        want = f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        got = f"SELECT * FROM read_parquet('{scratch}/checks/staged/{t}/*.parquet')"
        try:
            checks[f"staged:{t}"] = (same(want, got), "staged vs generated")
        except Exception as e:
            checks[f"staged:{t}"] = (False, str(e)[:200])
    merged = f"""
        WITH last AS (
          SELECT * FROM read_json('{data_dir}/raw/orders_changes.json')
          QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1)
        SELECT * FROM read_parquet('{data_dir}/orders.parquet')
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CAST(o_orderdate AS TIMESTAMP), o_orderpriority
        FROM last WHERE op <> 'D'"""
    try:
        checks["sink:merge_by_key"] = (same(
            f"SELECT * FROM ({merged})",
            f"SELECT * FROM read_parquet('{scratch}/checks/merged_orders/*.parquet')"),
            "merged snapshot vs DuckDB merge")
    except Exception as e:
        checks["sink:merge_by_key"] = (False, str(e)[:200])
    return checks


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"[perfbench] not a graft checkout, missing: {', '.join(missing)}")
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)[args.workload]

    cp = build()
    t1 = time.monotonic()
    deadline = t1 + RUN_LIMIT_S  # a first build may take longer; runs start after it
    import gen
    data_dir = gen.generate(os.path.join(BUILD, "data"), args.seed,
                            raw=bool(spec.get("ingest")))
    t2 = time.monotonic()

    scratch = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    before = set(os.listdir(ROOT))
    try:
        res = run_jvm(cp, spec, args, data_dir, scratch, deadline - 30)
        t3 = time.monotonic()
        checks = oracle_check(data_dir, res, scratch, spec["queries"])
        if spec.get("ingest"):
            checks.update(etl_checks(data_dir, scratch, spec["ingest"]))
        t4 = time.monotonic()
    finally:
        left = tree_bytes(scratch)
        shutil.rmtree(scratch, ignore_errors=True)
    stray = sorted(set(os.listdir(ROOT)) - before)

    # queries that threw in any timed iteration fail, whatever the oracle says
    threw = {f["query"]: f["error"] for it in res["iterations"] for f in it["failures"]}
    for q, e in threw.items():
        checks[q] = (False, "threw: " + e)
    failed = sorted(k for k, (ok, _) in checks.items() if not ok)
    qs = spec["queries"]
    passed_q = sum(1 for q in qs if checks[q][0])

    its = res["iterations"]
    untraced = [i for i in its if not i["traced"]]
    untraced_ids = {i["iteration"] for i in untraced}
    lat = {q: [] for q in qs}
    for q in res["queries"]:
        if q["status"] == "ok" and q["iteration"] in untraced_ids:
            lat[q["query"]].append(q["latency_s"])
    pooled = [x for xs in lat.values() for x in xs]
    # each query's median latency over the iterations, then the median
    # of those: with a handful of queries, a pooled p50 would be the
    # slowest sample of one query, the most noise-prone of all
    per_query = {q: med(xs) for q, xs in lat.items() if xs}
    setup = res["setup"]
    e2e = {
        "pipeline_s": (med([i["wall_s"] for i in untraced]), "s"),
        "task_s": (med([i["task_s"] for i in untraced]), "s"),
        "query_p50_s": (med(list(per_query.values())), "s"),
        "query_p90_s": (percentile(pooled, 0.9) if pooled else 0.0, "s"),
        "pass_ratio": (passed_q / len(qs), "ratio"),
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    log(f"[perfbench] inputs {t2 - t1:.1f}s, "
        f"harness {t3 - t2:.1f}s, oracle {t4 - t3:.1f}s")
    log(f"[perfbench] {args.workload} seed={args.seed}: {len(its)} timed iterations, "
        f"{len(untraced)} untraced, {len(pooled)} query samples, {len(qs)} queries; "
        f"scratch left {left} bytes (deleted); new entries in checkout root: "
        f"{stray or 'none'}")
    for k in failed:
        log(f"[perfbench] FAILED {k}: {checks[k][1]}")
    summary = {"workload": args.workload, "seed": args.seed,
               "iterations": len(its), "untraced_iterations": len(untraced),
               "query_samples": len(pooled),
               "failed": failed, "scratch_left_bytes": left,
               "stray_root_entries": stray, "setup": setup,
               "query_median_s": per_query,
               "timed": [{k: it[k] for k in ("wall_s", "cpu_s", "jit_s", "task_s",
                                             "task_wall_s", "steal_ticks",
                                             "stolen_share", "traced")}
                         for it in its],
               "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.trace:
        layers = [l["metrics"] for l in res.get("layers", [])]
        per = {k: med([m[k] for m in layers]) for k in (layers[0] if layers else {})}
        per["session.build_s"] = setup["build_s"]
        per["session.warmup_s"] = setup["warmup_s"]
        traced_wall = med([i["wall_s"] for i in its if i["traced"]])
        untraced_wall = med([i["wall_s"] for i in untraced])
        per["trace.overhead_pct"] = (
            100.0 * (traced_wall / untraced_wall - 1.0)
            if untraced_wall and traced_wall else 0.0)
        summary["per_layer"] = per
        metrics = {m["name"]: {"value": per[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": not failed, "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
