#!/usr/bin/env python3
"""Repository benchmark: build the program from this checkout, run one
workload for a fixed window, check its outputs, print the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The workloads and metrics are declared in
BENCHMARK.json; the last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

The JVM side (graft.perfbench.Harness) generates the inputs from the seed,
stages them, writes every query's output once, and times warm passes. This
script compares those outputs with the program's DuckDB oracle SQL
(rows-only where the program declares no oracle), and counts a query with
a wrong output as failed on every run it made.
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "work")
STAMP = os.path.join(TARGET, "build.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# The scan layout the benchmark pins (BenchLayout split counts). Tables the
# workloads generate keep BenchLayout's measured defaults; lineitem and
# orders are not generated, so they stay single files.
LAYOUT = {"LINEITEM": "1", "ORDERS": "1", "EVENTS": "1", "DOCUMENTS": "4",
          "EMBEDDINGS": "4"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                  recursive=True)
        + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"),
                    recursive=True)
        + [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program plus the harness (once per source state) and
    returns the runtime classpath."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -XX:-UsePerfData -Djava.io.tmpdir="
                       + os.path.join(TARGET, "tmp"))
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed; see {log}")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return cp[-1]


def run_jvm(classpath, args, extra):
    shutil.rmtree(WORK, ignore_errors=True)
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(run_dir)
    os.makedirs(tmp)
    # the program resolves the paper's reference files relative to its
    # working directory
    os.symlink(os.path.join(ROOT, "data"), os.path.join(run_dir, "data"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update({f"SPARK_GRAFT_SPLIT_{t}": n for t, n in LAYOUT.items()})
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cmd = (["java"]
           + [a for p in JDK17_OPENS
              for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile="
              + os.path.join(BENCH, "log4j2.properties"),
              "-cp", classpath, "graft.perfbench.Harness",
              args.workload, str(args.seed), str(args.seconds),
              str(args.trace), WORK] + extra)
    log = os.path.join(TARGET, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}")
    result = os.path.join(WORK, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited {code}; see {log}")
    with open(result) as fh:
        return json.load(fh)


def check_outputs(checks, sf_dir):
    """Returns {query: problem} for every output that does not match the
    oracle (same rows, order-insensitive, floats to 1e-9) or, for queries
    without an oracle, has no rows. Rows are normalised and compared the
    way the program's own oracle checker, scripts/check_oracle.py, does."""
    import duckdb
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import norm_rows, values_eq

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb')}'")
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")

    def fetch_sorted(sql, cols):
        quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
        rows = con.sql(f"SELECT {quoted} FROM ({sql})").fetchall()
        return norm_rows([tuple(float(x) if isinstance(x, decimal.Decimal)
                                else x for x in r) for r in rows])

    problems = {}
    for q, c in checks.items():
        got_sql = f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')"
        cols = sorted(con.sql(got_sql).columns)
        got = fetch_sorted(got_sql, cols)
        if "oracle" not in c:
            if not got:
                problems[q] = "no rows"
            continue
        exp_cols = sorted(con.sql(c["oracle"]).columns)
        if exp_cols != cols:
            problems[q] = f"columns {cols} != oracle {exp_cols}"
            continue
        exp = fetch_sorted(c["oracle"], cols)
        if len(exp) != len(got):
            problems[q] = f"{len(got)} rows != oracle {len(exp)}"
        elif not all(values_eq(x, y) for g, e in zip(got, exp)
                     for x, y in zip(g, e)):
            problems[q] = "values differ from oracle"
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (smoke test)")
    ap.add_argument("--plant-wrong", metavar="QUERY",
                    help="empty QUERY's checked output (smoke test)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("program sources not found; run from the root of a checkout")

    classpath = build()
    extra = (["--tiny"] if args.tiny else []) + (
        ["--plant-wrong", args.plant_wrong] if args.plant_wrong else [])
    res = run_jvm(classpath, args, extra)

    problems = check_outputs(res["checks"], res["sf_dir"])
    failed = dict(res["failed"])
    for q in problems:
        failed[q] = res["attempted"][q]
    attempted = sum(res["attempted"].values())
    n_failed = sum(failed.values())

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    passes = res["passes"]
    info = {
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "hash_mode": res["hash_mode"], "layout": res["layout"],
        "setup_reps_s": res["setup_reps_s"],
        "check_pass_s": res["check_pass_s"],
        "warm_pass_s": [p["wall_s"] for p in res["warm_passes"]],
        "pass_s": [p["wall_s"] for p in passes],
        "pass_tasks": [p["tasks"] for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "session_s": res["session_s"],
        "query_samples": res["query_samples"],
        "query_median_s": res["query_median_s"],
        "failed_frac": n_failed / attempted,
        "errors": res["errors"], "wrong_outputs": problems,
        "checks": {q: {k: v for k, v in c.items()
                       if k not in ("dir", "oracle")}
                   | {"oracle": "oracle" in c}
                   for q, c in res["checks"].items()},
    }
    print(json.dumps(info))
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
