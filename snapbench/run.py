#!/usr/bin/env python3
"""Benchmark of the snapshot-then-query path (see snapbench/README.md).

Usage, from the repo root:
  python3 snapbench/run.py --workload wide_parquet|deep_sqlite --seed N \
      --seconds S --trace 0|1
  python3 snapbench/run.py --selftest

Builds the program (snapbench/build.py), runs one benchmark JVM with plain
`java -cp`, checks the SparkEntry results against DuckDB, and prints the
result as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
DATA = os.path.join(BENCH, "data", "sf0.01")
TIME_LIMIT_S = 170
HEAP = "3g"

# The JDK 17 module openings Spark needs outside spark-submit, and the
# launch properties the repo's build.sbt gives `run` (graft.Main).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
]


def java(cp, main, args, tmp, timeout, stdout=sys.stderr):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *args]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise


def canon(cols, rows):
    """scripts/check.py's canonical form: columns sorted by name, cells
    stringified, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(str(r[i]) for i in idx) for r in rows)


def duckdb_check(out):
    """Compares each SparkEntry result the warm-up wrote with its oracle SQL
    run by DuckDB on the same tables. Returns {query: error} for mismatches."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(DATA, f)}'")
    errors = {}
    for name, sql in sorted(out["oracle_sql"].items()):
        spark_dir = os.path.join(out["sparkentry_dir"], name)
        try:
            o = con.execute(sql)
            want = canon([d[0] for d in o.description], o.fetchall())
            s = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
            got = canon([d[0] for d in s.description], s.fetchall())
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            errors[name] = str(e)[:300]
            continue
        if got != want:
            errors[name] = f"spark {len(got[1])} rows {got[0]} != oracle {len(want[1])} rows {want[0]}"
    con.close()
    return errors


def declared_metrics():
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        return None
    b = json.load(open(spec))
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["wide_parquet", "deep_sqlite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[snapbench] build failed: {e}", file=sys.stderr)
        return 2
    tmp = os.path.join(build.BUILD, "tmp")

    if a.selftest:
        work = os.path.join(build.BUILD, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        try:
            return java(cp, "snapbench.SelfTest", [work, " ".join(sqlite_cmd())], tmp, 600, sys.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "result.json")
    try:
        code = java(cp, "snapbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA, "--out", out_file,
            "--sqlite-check", " ".join(sqlite_cmd()),
        ], tmp, max(10, TIME_LIMIT_S - (time.time() - t0)))
        if code != 0 or not os.path.isfile(out_file):
            print(f"[snapbench] benchmark JVM exited with {code}", file=sys.stderr)
            return 1
        out = json.load(open(out_file))
        failed = out["failed"]
        failures = list(out["failures"])
        if out["oracle_sql"]:
            for name, err in duckdb_check(out).items():
                failed += max(1, out["sparkentry_ops"].get(name, 0))
                failures.append(f"{name} differs from its DuckDB oracle: {err}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = out["attempted"]
    failed = min(failed, attempted)
    if a.trace:
        metrics = out["per_layer"]
    else:
        metrics = out["end_to_end"]
        metrics["ok_frac"]["value"] = (attempted - failed) / attempted
    declared = declared_metrics()
    if declared:
        names = declared[1] if a.trace else declared[0]
        missing = [n for n in names if n not in metrics]
        if missing:
            print(f"[snapbench] metrics missing from the run: {missing}", file=sys.stderr)
            return 1
        metrics = {n: metrics[n] for n in names}
    for f in failures:
        print(f"[snapbench] FAIL {f}", file=sys.stderr)
    print(json.dumps({"detail": out["extra"], "failures": failures}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def sqlite_cmd():
    return [sys.executable or "python3", os.path.join(BENCH, "sqlite_check.py")]


if __name__ == "__main__":
    sys.exit(main())
