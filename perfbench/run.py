#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.sbt) when
the sources changed, generates the workload's inputs from the seed, runs
the workload in one JVM with SPARK_GRAFT_CPUS set to the core count,
checks the outputs, and prints one JSON object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits 1 when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
RUNS = os.path.join(ROOT, ".bench_run")
WORKLOADS = ("bike_dag", "tpch_sf1", "lake_dml")
# TPC-H scale of the tpch_sf1 inputs (see perfbench/README.md).
TPCH_SF = 0.01
RUN_LIMIT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group at the limit and
    wait for it to end either way."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(digest):
    """Compile engine + harness once per source digest; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_SPARK_JARS=os.path.join(spark_home, "jars"))
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g"
        + f" -Djava.io.tmpdir={BUILD}/tmp")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    out = os.path.join(BUILD, "sbt.log")
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    with open(out, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], 800, cwd=HERE,
                         stdout=f, stderr=subprocess.STDOUT, env=env)
    lines = open(out).read().splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


# ---------------------------------------------------------------- inputs

def write_nation(d):
    import pyarrow as pa
    import pyarrow.parquet as pq
    names = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
             "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
             "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
             "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
             "UNITED STATES"]
    region = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4,
              2, 3, 3, 1]
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": names,
        "n_regionkey": pa.array(region, pa.int32())}),
        os.path.join(d, "nation.parquet"))


TPCH_SQL = {
    "region": "SELECT CAST(r_regionkey AS INTEGER) r_regionkey, r_name FROM region",
    "nation": "SELECT CAST(n_nationkey AS INTEGER) n_nationkey, n_name, "
              "CAST(n_regionkey AS INTEGER) n_regionkey FROM nation",
    "customer": "SELECT CAST(c_custkey AS BIGINT) c_custkey, c_name, "
                "CAST(c_nationkey AS INTEGER) c_nationkey, "
                "CAST(c_acctbal AS DOUBLE) c_acctbal, c_mktsegment FROM customer",
    "supplier": "SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name, "
                "CAST(s_nationkey AS INTEGER) s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) s_acctbal FROM supplier",
    "part": "SELECT CAST(p_partkey AS BIGINT) p_partkey, p_name, p_brand, p_type, "
            "CAST(p_size AS INTEGER) p_size, CAST(p_retailprice AS DOUBLE) "
            "p_retailprice FROM part",
    "orders": "SELECT CAST(o_orderkey AS BIGINT) o_orderkey, CAST(o_custkey AS BIGINT) "
              "o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) o_orderdate, o_orderpriority FROM orders",
    "lineitem": "SELECT CAST(l_orderkey AS BIGINT) l_orderkey, CAST(l_partkey AS BIGINT) "
                "l_partkey, CAST(l_suppkey AS BIGINT) l_suppkey, "
                "CAST(l_linenumber AS INTEGER) l_linenumber, "
                "CAST(l_quantity AS DOUBLE) l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) l_extendedprice, "
                "CAST(l_discount AS DOUBLE) l_discount, CAST(l_tax AS DOUBLE) l_tax, "
                "l_returnflag, l_linestatus, CAST(l_shipdate AS TIMESTAMP) l_shipdate "
                "FROM lineitem",
}


TPCH_KEYS = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
             "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
             "lineitem": "l_orderkey, l_linenumber"}


def gen_tpch(d, seed):
    """TPC-H tables from DuckDB's bundled dbgen, cast to the gate's column
    types; the seed permutes each table's row order."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("LOAD tpch")
    con.execute(f"CALL dbgen(sf={TPCH_SF})")
    for t, sql in TPCH_SQL.items():
        tbl = con.execute(f"SELECT * FROM ({sql}) ORDER BY hash({TPCH_KEYS[t]}, {seed})"
                          ).fetch_arrow_table()
        pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))


def inputs(workload, seed):
    """Generate (once per seed) and return the input directory."""
    d = os.path.join(DATA, workload, f"seed-{seed}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "tpch_sf1":
        gen_tpch(d, seed)
    else:
        write_nation(d)
    open(done, "w").close()
    return d


def input_sizes(d):
    import pyarrow.parquet as pq
    sizes = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            sizes[f[:-8] + "_rows"] = pq.ParquetFile(p).metadata.num_rows
            sizes[f[:-8] + "_bytes"] = os.path.getsize(p)
    return sizes


# ---------------------------------------------------------------- checks

def oracle_check(data, check_dir):
    """Compare each row's collected output with DuckDB on the same inputs
    through the repository's oracle tool; return the failing rows."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    out = subprocess.run([sys.executable, tool, data, check_dir],
                         capture_output=True, text=True, timeout=150)
    fails = [l.split()[1].rstrip(":") for l in out.stdout.splitlines()
             if l.startswith(("FAIL", "ERR"))]
    summary = [l for l in out.stdout.splitlines() if " pass, " in l]
    if out.returncode != 0 and not fails:
        fails = ["oracle tool: " + (out.stderr.strip().splitlines() or ["error"])[-1]]
    log(f"oracle: {summary[-1] if summary else out.stdout[-300:]}")
    return fails


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "check_oracle.py"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            raise SystemExit(f"not a graft checkout: {os.path.relpath(need, ROOT)} missing")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    digest = source_digest()
    cp = build(digest)

    data = inputs(a.workload, a.seed)
    work = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx2g", *opens, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/tmp", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work]
    limit = RUN_LIMIT_S - (time.time() - t_start) - 15
    with open(os.path.join(work, "jvm.log"), "w") as f:
        try:
            rc = run_bounded(cmd, max(30, limit), cwd=work, stdout=f,
                             stderr=subprocess.STDOUT, env=env)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"workload JVM failed ({rc})")
    res = json.load(open(res_path))
    det = res["details"]
    failures = list(det["failures"])
    attempted, failed = res["attempted"], res["failed"]

    if a.workload == "tpch_sf1":
        bad = oracle_check(data, os.path.join(work, "check"))
        failures += [f"{r} (oracle mismatch)" for r in bad]
        failed += len(bad)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {"value": 0.0})["value"]
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}

    sizes = dict(input_sizes(data), **det["sizes"])
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True)
    prov = {
        "git_commit": git.stdout.strip() if git.returncode == 0 else None,
        "source_digest": digest, "nproc": os.cpu_count(),
        "spark_graft_cpus": det["spark_graft_cpus"],
        "driver_heap_mb": det["driver_heap_mb"],
        "spark": det["spark_version"], "scala": det["scala_version"],
        "jdk": det["jdk_version"],
        "sentinel_before_s": det["sentinel_before_s"],
        "sentinel_after_s": det["sentinel_after_s"],
        "sentinel_quiet_norm_s": det["sentinel_quiet_norm_s"],
    }
    correct = failed == 0 and not failures
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "op_tail_percentile": det["op_tail_percentile"],
              "timed_ops": det["timed_ops"], "passes": det["passes"],
              "pass_s": det["pass_s"], "op_medians_s": det["op_medians_s"],
              "phases_s": {k: det[k] for k in ("warm_s", "finish_s", "jvm_wall_s")},
              "setup_rounds_s": det["setup_rounds_s"],
              "sizes": sizes, "provenance": prov, "failures": failures}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(dict(report, metrics=metrics, all=res), f, indent=1)

    for k, v in report.items():
        print(f"# {k}: {json.dumps(v)}")
    if a.trace:
        print("# spans (name, count, total, self, jobs):")
        for row in det["span_summary"]:
            print("#   " + row)
        print(f"# tracing overhead: {got.get('bench.trace_overhead', {}).get('value')}"
              f" (traced run_s {got.get('bench.traced_run_s', {}).get('value')} s)")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']} {m['unit']}")
    for f in failures:
        log(f"FAILED: {f}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
