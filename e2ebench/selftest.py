"""Self-tests of the benchmark itself.

    python3 e2ebench/selftest.py

Runs each workload once in smoke mode (one set-up, a short timed phase,
a tenth of the ingest sizes; sf0.01 for dashboard), untraced and traced,
and checks that:
  - every operation succeeds and every result matches its reference;
  - every end-to-end metric and every phase time in the run record was
    actually timed (finite and above zero);
  - the per-layer timings of the layers a workload exercises are above zero;
  - the ingest backlog does not grow at the chosen open-loop rate;
  - the open-loop generator's lateness stays under its stated limit;
  - the DuckDB oracle gate lets through a value that differs only by an
    exact rounding tie, and no other differing value.
Exits 1 and names each failed check.
"""
import math
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

# per-layer timings that must be measured on each workload
EXERCISED = {
    "dashboard": ["sessions.start_s", "gate.schema_s", "construct_s", "catalyst.optimize_s",
                  "exec_s", "exec.jobs", "exec.tasks", "index.ivf.build_s", "index.pq.build_s",
                  "q.a1_location_stats.p50_s", "q.sim1_cosine_topk.p50_s", "proc.cpu_s"],
    "ingest": ["sessions.start_s", "stream.batches", "stream.batch_p50_s", "stream.add_batch_s",
               "fold.ewma.batch_p50_s", "fold.quantile.batch_p50_s", "fold.ewma.serve_s",
               "sink.files", "etl.jobs", "etl.files_written", "gen.late_p99_s", "proc.cpu_s"],
}
PHASE_LISTS = ["setup_runs_s", "pass_runs_s", "drain_s", "etl_runs_s"]


def timed(v):
    return isinstance(v, (int, float)) and math.isfinite(v) and v > 0


def check(workload, seed=1):
    errors = []
    plain = run.run(workload, seed, 4, trace=False, smoke=True)
    traced = run.run(workload, seed, 4, trace=True, smoke=True)
    for tag, rep in (("untraced", plain), ("traced", traced)):
        if rep["failed"] or rep["attempted"] < 1:
            errors.append(f"{tag}: {rep['failed']} of {rep['attempted']} operations failed: "
                          f"{rep['failures'][:3]}")
    for name, v in plain["e2e"].items():
        if not timed(v["value"]):
            errors.append(f"end-to-end metric {name} was not timed: {v['value']}")
    rec = plain["record"]
    if not timed(rec.get("warmup_s")):
        errors.append(f"warm-up was not timed: {rec.get('warmup_s')}")
    for key in PHASE_LISTS:
        vals = rec.get(key, [])
        if not all(timed(x) for x in vals):
            errors.append(f"phase times {key} not all timed: {vals}")
    for name in EXERCISED[workload]:
        v = traced["layer"].get(name, {}).get("value")
        if not timed(v):
            errors.append(f"per-layer metric {name} was not measured: {v}")
    if workload == "ingest":
        for rep in (plain, traced):
            r = rep["record"]
            first, second = r["backlog_mean_first_half"], r["backlog_mean_second_half"]
            if second > 1.5 * first + r["rate_per_s"] * 0.25:
                errors.append(f"backlog grows: {first} files then {second}")
            if r["gen_late_p99_s"] > r["gen_late_limit_s"]:
                errors.append(f"generator p99 lateness {r['gen_late_p99_s']} s over "
                              f"{r['gen_late_limit_s']} s")
    return errors


def check_ties():
    """The 16 values average to exactly 318.655: Spark rounds that to
    318.66, DuckDB to 318.65."""
    con = duckdb.connect()
    con.execute("CREATE MACRO e2e_unrounded(x, d) AS x")
    vals = [264.84, 305.08, 399.7, 268.45, 281.77, 288.63, 317.23, 283.21, 261.06, 261.98,
            363.2, 341.89, 446.38, 315.27, 362.3, 337.49]
    con.execute("CREATE TABLE t AS SELECT 'a' AS k, unnest(?) AS v", [vals])
    sql = "SELECT k, count(*) AS n, round(avg(v), 2) AS avg_v FROM t GROUP BY k ORDER BY k"
    exp = con.execute(sql).df()[["avg_v", "k", "n"]]  # the gate sorts columns by name
    errors = []
    for avg_v, n, want in ((318.66, 16, 1), (318.65, 16, 0), (318.67, 16, None),
                           (318.64, 16, None), (318.66, 17, None)):
        got = pd.DataFrame({"avg_v": [avg_v], "k": ["a"], "n": [n]})
        ties = run.rounding_ties(con, sql, got, exp) if want != 0 else 0
        if ties != want:
            errors.append(f"oracle gate on avg_v {avg_v}, n {n}: {ties} tie cells, want {want}")
    return errors


def main():
    failed = False
    errors = check_ties()
    for e in errors:
        print(f"FAIL ties: {e}")
    print(f"{'FAIL' if errors else 'PASS'} ties")
    failed |= bool(errors)
    for workload in run.WORKLOADS:
        errors = check(workload)
        for e in errors:
            print(f"FAIL {workload}: {e}")
        print(f"{'FAIL' if errors else 'PASS'} {workload}")
        failed |= bool(errors)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
