#!/usr/bin/env python3
"""Benchmark of the glider mission pipeline and the operator queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mission_single --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-check

The first run builds the program and the harness from source with sbt
(offline) and caches the classpath under .bench_build/. Each run starts one
JVM for the workload, then compares the query results against DuckDB and
prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# the read-only query tables described in TESTDATA.md
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
SF_DIR = os.path.join(TESTDATA, "sf0.1")
SELF_CHECK_SF_DIR = os.path.join(TESTDATA, "sf0.01")
WORKLOADS = ["mission_single", "operator_queries"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_FLAGS = ["-Xmx4g", "-XX:+UseG1GC", "-XX:CompileThresholdScaling=0.25"] + [
    f for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar"]
    for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# a workload run must end within 180 s of its build; the self-check runs
# every workload's cycle and two velocity calls, so it gets more room
DEADLINE_S = 175
SELF_CHECK_DEADLINE_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    newest = 0.0
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    build_files = [os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties")]
    return max([newest] + [os.path.getmtime(f) for f in build_files])


def spark_jars():
    """The jars directory of the installed Spark: $SPARK_HOME/jars, else
    the one next to the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark installation found (SPARK_HOME or spark-submit)")
        sys.exit(2)
    return os.path.join(home, "jars")


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the program's sources (src/main/scala/graft) are missing")
        sys.exit(2)
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= sources_mtime()):
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={repos} "
        f"-Dsbt.offline=true -Xmx2g -Dperfbench.sparkJars={spark_jars()}"))
    log("building with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
    lines = [l for l in p.stdout.splitlines() if "sbt-target" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log("build failed")
        sys.exit(2)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, out_dir, deadline):
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
              "-cp", cp, "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log("the workload did not finish in time")
        return 1


def canon(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="first",
                            kind="mergesort").reset_index(drop=True)
    return df


def oracle_check(out_dir, sf_dir):
    """Compares every dumped query result with DuckDB running the query's
    oracle SQL on the same parquet tables: same columns, dtypes, row count
    and values. Returns a list of failure messages."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    spill = os.path.join(out_dir, "duckdb-spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    results = os.path.join(out_dir, "results")
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        if name not in oracle:
            failures.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        got = canon(pd.concat([pd.read_parquet(p) for p in files])
                    if files else pd.DataFrame())
        try:
            exp = canon(con.sql(oracle[name]).df())
        except Exception as e:
            failures.append(f"{name}: oracle SQL error {e}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            failures.append(f"{name}: {len(got)} rows != {len(exp)}")
        else:
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=True,
                                              check_exact=True)
            except AssertionError as e:
                failures.append(f"{name}: values differ: {str(e)[:300]}")
    con.close()
    return failures


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not a.self_check and not a.workload:
        ap.error("--workload or --self-check is required")
    cp = build()
    # the build may take long on a fresh checkout; the run gets its own
    # deadline from here
    deadline = time.monotonic() + (SELF_CHECK_DEADLINE_S if a.self_check
                                   else DEADLINE_S)
    tag = ("self-check" if a.self_check
           else f"{a.workload}-seed{a.seed}-trace{a.trace}")
    out_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    sf_dir = SELF_CHECK_SF_DIR if a.self_check else SF_DIR
    args = (["self-check", out_dir, sf_dir] if a.self_check else
            [a.workload, str(a.seed), str(a.seconds), str(a.trace), out_dir,
             sf_dir])
    code = run_jvm(cp, args, out_dir, deadline)
    result_path = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        log(f"the JVM exited with code {code} and no result")
        sys.exit(1)
    with open(result_path) as f:
        r = json.load(f)
    failures = (oracle_check(out_dir, sf_dir)
                if os.path.exists(os.path.join(out_dir, "oracle_sql.json"))
                else [])
    for e in r["errors"] + failures:
        log(f"FAILED {e}")
    # the dumped results and Spark's local files are not kept; the
    # result and (traced runs) the span file are
    for d in ("results", "spark-local", "tmp", "warehouse", "duckdb-spill"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    correct = r["correct"] and not failures
    failed = r["failed"] + len(failures)
    if a.self_check:
        print(json.dumps({"self_check": "ok" if correct and failed == 0
                          else "FAILED", "attempted": r["attempted"],
                          "failed": failed,
                          "seconds": round(time.monotonic() - start, 1)}))
        sys.exit(0 if correct and failed == 0 else 1)
    want = expected_metrics(a.trace)
    if sorted(want) != sorted(r["metrics"]):
        log(f"metric set differs from BENCHMARK.json: missing "
            f"{sorted(set(want) - set(r['metrics']))}, extra "
            f"{sorted(set(r['metrics']) - set(want))}")
        sys.exit(1)
    if a.trace:
        log(f"spans: {os.path.join(out_dir, 'spans.json')}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": failed,
                      "metrics": {k: r["metrics"][k] for k in want}}))


if __name__ == "__main__":
    main()
