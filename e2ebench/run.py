"""End-to-end benchmark of the engine: dashboard reads and real-time
ingest, with the curation serving set measured by the traced run.

    python3 e2ebench/run.py --workload dashboard|ingest \
        --seed N --seconds S --trace 0|1

Builds the engine from source (e2ebench/build.py), generates the run's
inputs from the seed (e2ebench/datagen.py) into a work dir of its own,
runs the workload in one JVM (e2ebench/src), checks every result, removes
the work dir and prints one JSON line last: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The line before it is the run record: settings and host-noise receipts.
"""
import argparse
import glob
import json
import math
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# Scale factor of the generated tables; ingest generates its own records.
SF = 0.01
WORKLOADS = ["dashboard", "ingest"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)


def rounding_ties(con, sql, got, exp):
    """Number of cells where `got` and `exp` differ only because Spark and
    DuckDB break an exact rounding tie differently, or None when a differing
    cell is not such a tie. Spark's round() rounds the decimal value half up
    (318.655 -> 318.66); DuckDB's rounds the binary double (318.65499... ->
    318.65). A cell is a tie when the oracle query, run again with every
    round() removed, gives a value a half unit from both results, which lie
    one unit apart. Rows are matched on their non-float columns."""
    gs, es = got.astype(str).values, exp.astype(str).values
    cells = [(i, j) for i in range(len(gs)) for j in range(gs.shape[1]) if gs[i, j] != es[i, j]]
    try:
        raw = con.execute(ROUND.sub("e2e_unrounded(", sql)).df()
    except duckdb.Error:
        return None
    raw = raw[sorted(raw.columns)]
    if list(raw.columns) != list(exp.columns) or len(raw) != len(exp):
        return None
    keys = [c for c in exp.columns if not str(exp[c].dtype).startswith("float")]
    if raw[keys].astype(str).values.tolist() != exp[keys].astype(str).values.tolist():
        return None
    for i, j in cells:
        g, e, u = got.iat[i, j], exp.iat[i, j], raw.iat[i, j]
        if not all(isinstance(x, float) and math.isfinite(x) for x in (g, e, u)) or g == e:
            return None
        unit = 10.0 ** round(math.log10(abs(g - e)))
        if abs(abs(g - e) - unit) > 1e-6 * unit or abs(u - (g + e) / 2) > 1e-6 * unit:
            return None
    return len(cells)


def oracle_failures(data, work):
    """Compare each query's first result with DuckDB running its oracle SQL
    (the same comparison as scripts/check.py, save that a value which
    differs only by an exact rounding tie passes; see rounding_ties).
    Returns the failures, the number of queries compared and the number of
    such tie cells."""
    con = duckdb.connect()
    con.execute("CREATE MACRO e2e_unrounded(x, d) AS x")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures, ties = [], 0
    for name, sql in sorted(oracle.items()):
        qdir = os.path.join(work, "results", name)
        if not glob.glob(f"{qdir}/*.parquet"):
            failures.append(f"{name}: no result to compare")
            continue
        got = pd.read_parquet(qdir)
        exp = con.execute(sql).df()
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            failures.append(f"{name}: shape {list(got.columns)}x{len(got)} vs oracle "
                            f"{list(exp.columns)}x{len(exp)}")
            continue
        if got.astype(str).values.tolist() != exp.astype(str).values.tolist():
            n = rounding_ties(con, sql, got, exp)
            if n is None:
                failures.append(f"{name}: values differ from the DuckDB oracle")
                continue
            ties += n
        if any(str(got[c].dtype) != str(exp[c].dtype) for c in got.columns):
            failures.append(f"{name}: column types differ from the DuckDB oracle")
    return failures, len(oracle), ties


def run(workload, seed, seconds, trace, smoke=False):
    """Run one workload; returns the JVM's report, with the oracle gate's
    failures added."""
    classes = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        if workload == "dashboard":
            datagen.generate(data, seed, SF)
        out = os.path.join(work, "result.json")
        spans_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(spans_dir, exist_ok=True)
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Djava.io.tmpdir={work}/tmp",
                f"-Dgraft.index.store={work}/index_store",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-cp", f"{classes}:{build.SPARK_JARS}/*", "e2ebench.Main",
                  "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--data", data, "--work", work,
                  "--out", out])
        if trace:
            cmd += ["--spans", os.path.join(spans_dir, f"spans-{workload}-{seed}.json")]
        if smoke:
            cmd += ["--smoke"]
        subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S, check=True, cwd=work)
        with open(out) as f:
            rep = json.load(f)
        if workload == "dashboard":
            fails, n, ties = oracle_failures(data, work)
            rep["failures"] += fails
            rep["failed"] += len(fails)
            rep["record"].update(oracle_compared=n, oracle_rounding_ties=ties, sf=SF)
        rep["record"].update(workload=workload, seed=seed, seconds=seconds,
                             heap=f"-Xms{HEAP} -Xmx{HEAP}", nproc=os.cpu_count(),
                             work_dir="removed after the run")
        return rep
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        rep = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except (subprocess.SubprocessError, OSError, SystemExit) as e:
        print(f"e2ebench: run failed: {e}", file=sys.stderr)
        sys.exit(2)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    src = rep["layer"] if a.trace else rep["e2e"]
    metrics = {}
    for m in wanted:
        # a layer the workload does not exercise reports 0
        v = src.get(m["name"], {"value": 0.0} if a.trace else None)
        if v is None:
            print(f"e2ebench: metric {m['name']} missing", file=sys.stderr)
            sys.exit(2)
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for f in rep["failures"]:
        print(f"e2ebench: failed: {f}", file=sys.stderr)
    print(json.dumps({"record": rep["record"]}))
    print(json.dumps({"correct": rep["failed"] == 0, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
