"""Steadiness record and layer table of the benchmark.

    python3 e2ebench/record.py [--runs 10] [--first-seed 101]

Runs every workload `--runs` times untraced, each time with another seed,
exactly as `run.py` is invoked from the repository root, and writes
e2ebench/STEADINESS.md: every run's end-to-end metrics, each metric's
median and quartiles (Python's statistics.quantiles, n=4) and its spread
(quartile distance over median) against the bound in BENCHMARK.json.
Then runs each workload once traced and writes e2ebench/LAYERS.md: the
per-layer metrics, the tracing overhead, and where the dashboard and
curation query time goes (top 10 queries by construction, Catalyst and
execution time).
"""
import argparse
import json
import os
import statistics
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def steadiness(spec, runs, first_seed):
    out = ["# Steadiness record", "",
           f"{runs} untraced runs per workload, seeds {first_seed}..{first_seed + runs - 1}, "
           f"`run_seconds` {spec['run_seconds']}. Spread = (Q3 - Q1) / median, with Python's "
           "`statistics.quantiles(values, n=4)`; the benchmark aims for a spread below a third "
           "of each metric's bound (`setup_s` is gated on its median only).", ""]
    for w in spec["workloads"]:
        rows = []
        for k in range(runs):
            seed = first_seed + k
            rec, res = bench(spec, w["name"], seed, 0)
            rows.append((seed, rec, res))
            print(w["name"], seed, res["correct"], {m: v["value"] for m, v in res["metrics"].items()},
                  flush=True)
        names = [m["name"] for m in spec["end_to_end"]]
        out += [f"## {w['name']}", "", "| seed | correct | attempted | failed | "
                + " | ".join(names) + " | host.steal_frac | proc.cpu_s | jvm.gc_s |",
                "|" + "---|" * (len(names) + 7)]
        for seed, rec, res in rows:
            out.append(f"| {seed} | {res['correct']} | {res['attempted']} | {res['failed']} | "
                       + " | ".join(f"{res['metrics'][n]['value']:.4g}" for n in names)
                       + f" | {rec['host.steal_frac']:.4f} | {rec['proc.cpu_s']:.1f} "
                         f"| {rec['jvm.gc_s']:.2f} |")
        out += ["", "| metric | unit | median | Q1 | Q3 | spread | bound | bound / 3 |",
                "|---|---|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            vals = [res["metrics"][m["name"]]["value"] for _, _, res in rows]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            out.append(f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                       f"{(q3 - q1) / med:.3f} | {m['bound']} | {m['bound'] / 3:.3f} |")
        out.append("")
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(out))


def top(per_query, key, n=10):
    rows = sorted(per_query.items(), key=lambda kv: -kv[1][key])[:n]
    return ", ".join(f"{q} {v[key]:.3f}" for q, v in rows)


def layers(spec, seed):
    out = ["# Layer table", "",
           f"One traced run per workload (seed {seed}, `run_seconds` {spec['run_seconds']}). "
           "Times are seconds; query-layer figures are means per query execution, stream "
           "figures medians per sink or fold batch; each curation query runs once, building its "
           "session memos. `trace.overhead_frac` compares the same work untraced and traced in "
           "one run (dashboard: queries/s of a traced pass against the untraced passes before "
           "and after it; ingest: drain rows/s).", ""]
    names = [m["name"] for m in spec["per_layer"]]
    for w in spec["workloads"]:
        rec, res = bench(spec, w["name"], seed, 1)
        out += [f"## {w['name']}", "", "| metric | value |", "|---|---|"]
        out += [f"| {n} | {res['metrics'][n]['value']:.4g} |" for n in names
                if res["metrics"][n]["value"]]
        pq = rec.get("per_query")
        if pq:
            dash = {q: v for q, v in pq.items() if q.startswith("a")}
            cur = {q: v for q, v in pq.items() if not q.startswith("a")}
            out += ["", "Where query time goes (median seconds per execution):", "",
                    "| query | n | latency | construct | catalyst | execute |",
                    "|---|---|---|---|---|---|"]
            out += [f"| {q} | {v['n']} | {v['latency_s']:.3f} | {v['construct_s']:.3f} | "
                    f"{v['catalyst_s']:.3f} | {v['exec_s']:.3f} |" for q, v in sorted(pq.items())]
            for label, part in (("dashboard", dash), ("curation", cur)):
                out += ["", f"Top 10 {label} queries by construct_s: {top(part, 'construct_s')}", "",
                        f"Top 10 {label} queries by Catalyst time: {top(part, 'catalyst_s')}", "",
                        f"Top 10 {label} queries by exec_s: {top(part, 'exec_s')}"]
        out.append("")
    with open(os.path.join(HERE, "LAYERS.md"), "w") as f:
        f.write("\n".join(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    steadiness(spec, a.runs, a.first_seed)
    layers(spec, a.first_seed)


if __name__ == "__main__":
    main()
