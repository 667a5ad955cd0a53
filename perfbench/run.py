#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <calls_etl|lakehouse_rw> --seed N \
        --seconds S --trace <0|1>

Builds the engine and the harness from source (sbt, first run only; the
build is keyed by a hash of the sources), runs one workload in a driver
JVM on Spark `local[4]`, checks every operation's output, and prints two
lines on stdout: a detail object (every end-to-end metric by its
workload-specific name, failures by operation name, host-drift
calibration, cores/heap/seed/Spark version), then the result object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics and the tracing
overhead. Everything it writes stays under perfbench/work and
perfbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
SPEC = json.load(open(os.path.join(BENCH, "spec.json")))
METRICS = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
JVM_TIMEOUT_S = 165
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha1()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        sys.exit("sbt not found on PATH")
    log("building engine + harness with sbt")
    # sbt's own temp files, sockets and locks stay inside the checkout;
    # relative to sbt's working directory, so the checkout's path may hold
    # spaces (SBT_OPTS is split on whitespace)
    os.makedirs(os.path.join(BENCH, "target", "sbt-tmp"), exist_ok=True)
    # build.sbt compiles against SPARK_HOME's jars: the same install the run uses
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=os.path.dirname(spark_jars()))
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=target/sbt-tmp",
            "-Djna.tmpdir=target/sbt-tmp", "-Dsbt.boot.lock=false"]
    # resolve from the user's sbt repositories (its offline cache), also
    # when the environment does not say so
    if "sbt.repository.config" not in env.get("SBT_OPTS", "") and os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join(opts).strip()
    # every JVM the sbt script starts, its version probe too: no /tmp/hsperfdata
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    t0 = time.time()
    r = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr, timeout=840,
    )
    if r.returncode != 0:
        sys.exit(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f}s")


def spark_jars():
    """The jars of SPARK_HOME, or else of the first Spark 4 install (Scala
    2.13) with a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if d and os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home or "", "jars")
        if home and os.path.isdir(jars) and any(j.startswith("spark-core_2.13-4.") for j in os.listdir(jars)):
            return jars
    sys.exit("no Spark 4 install found: set SPARK_HOME or put its spark-submit on PATH")


def run_jvm(args, run_dir, result_file):
    jars = spark_jars()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java or not os.path.exists(java):
        sys.exit("java not found: set JAVA_HOME or put java on PATH")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            args.workload, str(args.seed % (1 << 63)), str(args.seconds), str(args.trace), run_dir, result_file]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    # the JVM halts when its stdin closes, so it cannot outlive this process
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=run_dir)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"driver JVM exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(result_file):
        sys.exit(f"driver JVM failed (exit {rc})")
    with open(result_file) as fh:
        return json.load(fh)


# -- calls_etl oracle: the pipeline restated in DuckDB over the same parquet --

def _avg(c):
    # NumOps.exactAvg: decimal sum / count, rounded half away from zero
    x = f"(sum({c}::DECIMAL(25,6))::DOUBLE / count({c}))"
    return f"sign({x}) * (floor(abs({x}) * 10000.0 + 0.5) / 10000.0)"


def _delta(t2, t1):
    return f"round_even((epoch_ms({t2}) - epoch_ms({t1})) / 60000.0, 2)"


DIMS = ["create_time_incident_year", "create_time_incident_month", "create_time_incident_day",
        "create_time_incident_hour", "address_x", "disposition_text", "incident_type_id", "priority",
        "beat", "district", "cpd_neighborhood", "community_council_neighborhood", "latitude_x", "longitude_x"]
DELTAS = [("create_closed_timedelta", "clt", "ct"), ("create_dispatch_timedelta", "dit", "ct"),
          ("create_arrival_timedelta", "art", "ct"), ("dispatch_arrival_timedelta", "art", "dit")]
FMT = "'%Y-%m-%dT%H:%M:%S.%g'"


def oracle_sql(input_dir):
    deltas = ",\n".join(f"{_delta(t2, t1)} AS {n}" for n, t2, t1 in DELTAS)
    means = ",\n".join(f"{_avg(n)} AS {n}_mean" for n, _, _ in DELTAS)
    return f"""
    WITH p AS (
      SELECT *, try_strptime(create_time_incident, {FMT}) AS ct,
        try_strptime(closed_time_incident, {FMT}) AS clt,
        try_strptime(arrival_time_primary_unit, {FMT}) AS art,
        try_strptime(dispatch_time_primary_unit, {FMT}) AS dit
      FROM read_parquet('{input_dir}/*.parquet')),
    d AS (
      SELECT *, {deltas},
        year(ct) AS create_time_incident_year, month(ct) AS create_time_incident_month,
        day(ct) AS create_time_incident_day, hour(ct) AS create_time_incident_hour
      FROM p WHERE district IS NOT NULL),
    b AS (SELECT * FROM d QUALIFY row_number() OVER (PARTITION BY event_number ORDER BY ct DESC) = 1)
    SELECT {", ".join(DIMS)}, count(DISTINCT event_number) AS n_distinct, {means}
    FROM b GROUP BY ALL"""


def canon_cols():
    return ", ".join([f"{d}::VARCHAR AS {d}" for d in DIMS] + ["n_distinct::BIGINT AS n_distinct"]
                     + [f"round({n}_mean, 4) AS {n}_mean" for n, _, _ in DELTAS])


def check_calls(result, sink_root):
    """Compare every ok operation's sink against the DuckDB pipeline: one
    scan hashes all sinks (row count and an order-independent sum of row
    hashes); a sink whose hash differs gets an exact diff."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE TABLE expected AS SELECT {canon_cols()} FROM ({oracle_sql(result['input'])})")
    n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    sums = con.execute("SELECT sum(n_distinct) FROM expected").fetchone()[0]
    if sums != result["expected"]["survivors"]:
        sys.exit(f"oracle disagrees with the generator's closed form: {sums} vs {result['expected']['survivors']}")
    row_hash = "hash(" + ", ".join(DIMS + ["n_distinct"] + [f"{n}_mean" for n, _, _ in DELTAS]) + ")"
    want_hash = con.execute(f"SELECT count(*), sum({row_hash}) FROM expected").fetchone()
    try:
        got_hash = dict((op, (n, h)) for op, n, h in con.execute(
            f"SELECT regexp_extract(filename, '([^/]+)/[^/]+$', 1) AS op, count(*), sum({row_hash})"
            f" FROM (SELECT {canon_cols()}, filename FROM read_parquet('{sink_root}/*/*.parquet', filename=true))"
            " GROUP BY op").fetchall())
    except duckdb.Error:
        got_hash = {}  # sinks disagree on their schema: diff each one
    want = DIMS + ["n_distinct"] + [f"{n}_mean" for n, _, _ in DELTAS]
    for op in result["ops"]:
        if not op["ok"] or "sink" not in op or got_hash.get(op["name"]) == want_hash:
            continue
        sink = op["sink"]
        try:
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{sink}/*.parquet')").fetchall()]
        except duckdb.Error as e:
            op["ok"], op["error"] = False, f"wrong result: unreadable sink ({e})"
            continue
        if sorted(cols) != sorted(want):
            op["ok"], op["error"] = False, f"wrong result: columns {cols}"
            continue
        got = f"SELECT {canon_cols()} FROM read_parquet('{sink}/*.parquet')"
        extra, missing, n = con.execute(
            f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL SELECT * FROM expected)),"
            f" (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL {got})),"
            f" (SELECT count(*) FROM ({got}))").fetchone()
        if extra or missing:
            op["ok"] = False
            op["error"] = f"wrong result: {n} rows vs oracle {n_exp}; {extra} unexpected, {missing} missing"
    con.close()


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def typical_op_s(ops):
    """Each op kind's median latency, weighted by its share of the op mix:
    robust to outliers, and unlike a pooled median it does not jump
    between kinds when two kinds' latencies shift a little."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    return sum(len(w) * statistics.median(w) for w in by_kind.values()) / len(ops)


def named_metrics(workload, ops, rows_per_op):
    """The workload-specific end-to-end metrics, by their names."""
    def walls(*kinds):
        return [o["wall_s"] for o in ops if o["kind"] in kinds]
    if workload == "calls_etl":
        etl = walls("etl")
        return {"etl_s": (quantile(etl, 0.5), "s", len(etl)),
                "etl_rows_per_s": (rows_per_op / quantile(etl, 0.5), "1/s", len(etl))}
    scans, appends, deletes, cdc = walls("scan_head", "scan_asof"), walls("append"), walls("delete"), walls("cdc")
    return {
        "append_p50_s": (quantile(appends, 0.5), "s", len(appends)),
        "append_p90_s": (quantile(appends, 0.9), "s", len(appends)),
        "delete_p50_s": (quantile(deletes, 0.5), "s", len(deletes)),
        "scan_p50_s": (quantile(scans, 0.5), "s", len(scans)),
        "scan_p90_s": (quantile(scans, 0.9), "s", len(scans)),
        "cdc_p50_s": (quantile(cdc, 0.5), "s", len(cdc)),
        "lake_ops_per_s": (len(ops) / sum(o["wall_s"] for o in ops), "1/s", len(ops)),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its build or driver JVM on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "pipeline", "CallsPipeline.scala")):
        sys.exit("engine sources not found next to the benchmark: run from a full checkout")
    build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    result_file = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    t0 = time.time()
    r = run_jvm(args, run_dir, result_file)
    log(f"driver JVM took {time.time() - t0:.1f}s")

    if args.workload == "calls_etl":
        sink_root = os.path.join(run_dir, "sink")
        for op in r["ops"]:
            if op["kind"] == "etl":
                op["sink"] = os.path.join(sink_root, op["name"])
        t0 = time.time()
        check_calls(r, sink_root)
        log(f"oracle checks took {time.time() - t0:.1f}s")

    measured = set(r["measured"])
    ops = [o for o in r["ops"] if o["name"] in measured]
    attempted = len(r["ops"])
    failures = [{"op": o["name"], "error": o["error"]} for o in r["ops"] if not o["ok"]]
    walls = [o["wall_s"] for o in ops]

    e2e = {
        "setup_s": (statistics.median(r["setup_s"]), "s", len(r["setup_s"])),
        "op_s": (typical_op_s(ops), "s", len(walls)),
        "op_p90_s": (quantile(walls, 0.9), "s", len(walls)),
        "ops_per_s": (len(walls) / sum(walls), "1/s", len(walls)),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", 1),
        "retained_heap_mb": (r["retained_heap_mb"], "MB", 1),
    }
    named = named_metrics(args.workload, ops, r.get("rows_per_op", 0))
    cal = r["calibration_s"]
    detail = {
        "detail": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": r["cores"],
            "heap_max_mb": r["heap_max_mb"], "spark_version": r["spark_version"],
            "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in {**e2e, **named}.items()},
            "fail_ratio": len(failures) / attempted if attempted else 1.0,
            "failures": failures,
            "ops": {"measured": len(ops), "attempted": attempted},
            "setup_runs_s": r["setup_s"],
            "calibration_s": {**cal, "end_over_start": cal["end"] / cal["start"]},
            "result_file": os.path.relpath(result_file, ROOT),
        }
    }
    if args.trace:
        layers = r.get("layers", {})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in METRICS["per_layer"]}
        detail["detail"]["traced"] = {k: r[k] for k in ("stage_self_s", "prefix_cumulative_s", "planning_share", "plan_metrics_ms",
                                                      "layers_by_kind") if k in r}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in METRICS["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
