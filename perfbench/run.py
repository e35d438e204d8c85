#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <sync|curate|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt, which depends on the
checkout's root build); later runs reuse the build while no source file
changed. Each run starts one JVM, which builds
the production Spark session (local[nproc], GraftExtensions), generates the
workload's inputs from the seed, measures for the given seconds and checks
its outputs. For `curate`, this script then compares each operator's result
with DuckDB running the operator's oracle SQL over the same inputs.

The last line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. The line before it records the seed, input sizes, nproc,
heap and Spark conf. A traced run also writes its spans and per-layer
counts to .bench_build/traces/<workload>-trace.json. Exits non-zero when
an output check fails, an operation fails, or the run cannot build or
finish.
"""
import argparse
import datetime
import decimal
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BENCH, "target")
BUILT = os.path.join(TARGET, "perfbench.build.json")
DEADLINE_S = 170
HEAP = "2g"
# Per-layer metrics each workload bypasses: they read 0 there. Every other
# per-layer metric must come from the run, or the run fails.
BYPASSED = {
    "sync": ["ops.exact_dedup_s", "operators.prefix_filter_s", "operators.curate_s",
             "operators.ivf_s", "streaming.batches", "streaming.add_batch_ms",
             "streaming.query_planning_ms", "streaming.wal_commit_ms", "ingest.gen_late_ms"],
    "curate": ["txnlog.merge_s", "txnlog.files_added", "txnlog.files_removed",
               "txnlog.bytes_written", "txnlog.log_bytes", "txnlog.stored_bytes_per_row",
               "txnlog.snapshot_ms", "txnlog.live_files", "ops.watermark_s", "ops.dedup_s",
               "plans.planning_ms", "sync.rows_per_s", "streaming.batches",
               "streaming.add_batch_ms", "streaming.query_planning_ms",
               "streaming.wal_commit_ms", "ingest.gen_late_ms"],
    "ingest": ["txnlog.merge_s", "txnlog.files_added", "txnlog.files_removed",
               "txnlog.bytes_written", "txnlog.log_bytes", "txnlog.stored_bytes_per_row",
               "txnlog.snapshot_ms", "txnlog.live_files", "ops.watermark_s", "ops.dedup_s",
               "sync.rows_per_s", "ops.exact_dedup_s", "operators.prefix_filter_s",
               "operators.curate_s", "operators.ivf_s"],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the last build saw the same sources.

    Returns the classpath and the JVM options of the root build, which
    knows what Spark needs on this JDK."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(BUILT):
            built = json.load(open(BUILT))
            if built["stamp"] == stamp:
                return built["classpath"], built["java_options"]
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath", "print javaOptions"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            stdin=subprocess.DEVNULL)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines or "[error]" in p.stdout:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed")
        # `print` lists the options one per line as "* <option>", after the classpath
        n = len(lines)
        while n and lines[n - 1].startswith("* "):
            n -= 1
        cp, opts = lines[n - 1].strip(), [l[2:].strip() for l in lines[n:]]
        with open(BUILT, "w") as f:
            json.dump({"stamp": stamp, "classpath": cp, "java_options": opts}, f)
        return cp, opts


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def clean_stale_work():
    """Removes work directories of runs that are no longer alive."""
    if not os.path.isdir(OUT):
        return
    for d in os.listdir(OUT):
        if d.startswith("work-") and d[5:].isdigit() and not pid_alive(int(d[5:])):
            shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)


def run_jvm(cp, java_options, args, work):
    # the root build's options, with this benchmark's fixed heap instead of its
    # -Xmx; the JIT compiler threads live as long as the JVM, so the CPU time
    # the benchmark subtracts for them never leaves with an ended thread
    opts = [o for o in java_options if not o.startswith(("-Xmx", "-Xms"))]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads"] + opts
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    log_path = os.path.join(work, "jvm.log")
    launch_ms = time.time() * 1000
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=DEADLINE_S - (time.time() - START))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the run did not finish within {DEADLINE_S} s")
    result = next((json.loads(l.split(" ", 1)[1]) for l in reversed(out.splitlines())
                   if l.startswith("PERFBENCH_RESULT ")), None)
    if p.returncode != 0 or result is None:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"the benchmark JVM exited with code {p.returncode}")
    return launch_ms, result


def canonical(v):
    """A value as a string that DuckDB's and Spark's spellings of it share."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(int(v)) if v == int(v) else repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canonical(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def fingerprint(con, sql):
    """Row count and digest of a query's rows, in their order, columns by name."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    rows = rel.fetchall()
    for row in rows:
        h.update(("|".join(canonical(row[i]) for i in order) + "\n").encode())
    return f"{len(rows)} rows of {sorted(cols)}, sha256 {h.hexdigest()[:16]}"


def oracle_checks(result, work):
    """Each curate result against DuckDB running its SparkEntry oracle SQL."""
    import duckdb
    con = duckdb.connect()
    data = os.path.join(work, "data")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(result["oracle"].items()):
        got = fingerprint(con, f"SELECT * FROM read_parquet('{work}/check/{name}/*.parquet')")
        want = fingerprint(con, sql)
        if got != want:
            bad.append(f"curate {name}: Spark gave {got}, DuckDB oracle {want}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    cp, java_options = build()
    global START
    START = time.time()
    clean_stale_work()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch_ms, r = run_jvm(cp, java_options, args, work)
        bad = list(r["failed_checks"])
        if r["oracle"] and not bad:
            bad += oracle_checks(r, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r["failed"]:
        # a thrown operation ends the run; it never reports a timing
        fail(f"{r['failed']} of {r['attempted']} operations failed: " + "; ".join(bad))
    e2e = dict(r["end_to_end"], setup_s=(r["measure_start_ms"] - launch_ms) / 1000)
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    base = os.path.join(traces, args.workload)
    info = dict(r["info"], workload=args.workload, trace=args.trace, failed_checks=bad)
    if args.trace:
        wanted = spec["per_layer"]
        values = dict({m: 0.0 for m in BYPASSED[args.workload]}, **r["layers"])
    else:
        wanted = spec["end_to_end"]
        values = e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"the {args.workload} run did not report " + ", ".join(missing)
             + "".join(f"; check failed: {b}" for b in bad))
    if args.trace:
        # overhead against the last untraced run of the same workload and seed
        untraced = base + "-untraced.json"
        if os.path.exists(untraced) and not bad:
            u = json.load(open(untraced))
            if u["seed"] == args.seed:
                for m in ("op_p50_ms", "op_cpu_ms"):
                    info[f"tracing_overhead.{m}"] = (values["trace." + m] - u[m]) / u[m]
        with open(base + "-trace.json", "w") as f:
            json.dump({"info": info, "layers": r["layers"], "spans": r["spans"]}, f)
    else:
        with open(base + "-untraced.json", "w") as f:
            json.dump(dict(e2e, seed=args.seed, op_p50_ms=r["info"]["op_p50_ms"]), f)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"run": info}, sort_keys=True))
    for b in bad:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    correct = not bad
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


START = time.time()
if __name__ == "__main__":
    main()
