#!/usr/bin/env python3
"""Steadiness test of the benchmark itself.

    python3 perfbench/steady.py [--runs 5] [--seconds 10] [--workloads a,b] [--seed 1]

For every workload in BENCHMARK.json it makes two sets of `--runs`
untraced runs of the same code, each run with its own seed, and reports
per end-to-end metric the median and quartiles of each set, the spread
(q3 - q1) / median over both sets, and how far the second set's median
moved from the first's. It fails when a spread (setup_s excepted) or a
median shift exceeds the metric's bound from BENCHMARK.json. It then
runs two traced runs with one seed per workload and fails unless
materialize.barriers, enrich.calls and sink.files_written repeat
exactly. Run from the root of a checkout; writes .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["materialize.barriers", "enrich.calls", "sink.files_written"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    res = json.loads(last)
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: output check failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, ok = {}, True
    for w in workloads:
        sets = []
        for k in range(2):
            seeds = range(a.seed + k * a.runs, a.seed + (k + 1) * a.runs)
            sets.append([run(w, s, seconds, 0) for s in seeds])
        report[w] = {}
        for m, bound in sorted(bounds.items()):
            per_set = [[r[m] for r in runs] for runs in sets]
            both = per_set[0] + per_set[1]
            q1, med, q3 = quartiles(both)
            spread = (q3 - q1) / med
            meds = [statistics.median(xs) for xs in per_set]
            shift = abs(meds[1] - meds[0]) / meds[0]
            bad = (m != "setup_s" and spread > bound) or shift > bound
            ok &= not bad
            report[w][m] = {"sets": [dict(zip(("q1", "median", "q3"), quartiles(xs))) for xs in per_set],
                            "values": per_set, "spread": spread, "median_shift": shift,
                            "bound": bound, "ok": not bad}
            print(f"{w:16s} {m:12s} median {meds[0]:.4g} / {meds[1]:.4g}  spread {spread:.3f}"
                  f"  shift {shift:.3f}  bound {bound}  {'ok' if not bad else 'OUT OF BOUND'}")
        traced = [run(w, a.seed, seconds, 1) for _ in range(2)]
        for m in EXACT:
            same = traced[0][m] == traced[1][m]
            ok &= same
            report[w][m] = {"values": [t[m] for t in traced], "ok": same}
            print(f"{w:16s} {m:24s} {traced[0][m]} / {traced[1][m]}  {'repeats' if same else 'DIFFERS'}")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
