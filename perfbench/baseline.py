#!/usr/bin/env python3
"""Measures the baseline: `--sets` sets of untraced runs on seeds 1..N, the
workloads alternating within a set (seed 1 of every workload, then seed 2,
...), so that drift of the machine over minutes falls on all of them alike;
then per workload `--pairs` pairs of an untraced and a traced seed-1 run
(per-layer numbers; tracing overhead as the median of the pairs' `wall_s`
differences; whether the count metrics repeat). Writes each end-to-end metric's
median, quartiles and spread per set and over all runs to BASELINE.json,
and each gated metric's ratio of the set medians.

    python3 perfbench/baseline.py [--seeds 10] [--sets 2] [--pairs 3] [--out perfbench/BASELINE.json]

The spread is (Q3 - Q1) / median with Python's statistics.quantiles(n=4).
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def one(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    rep = json.load(open(os.path.join(
        BENCH, "out", f"{workload}-seed{seed}-trace{trace}", "report.json")))
    return res, rep


def summary(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": xs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(BENCH, "BASELINE.json"))
    a = ap.parse_args()
    names = [w["name"] for w in SPEC["workloads"]]
    seeds = list(range(1, a.seeds + 1))
    vals = {w: [{} for _ in range(a.sets)] for w in names}
    runs = {w: [] for w in names}
    env = None
    for s in range(a.sets):
        for seed in seeds:
            for w in names:
                res, rep = one(w, seed, 0)
                env = rep["env"]
                runs[w].append({"set": s, "seed": seed, "correct": res["correct"],
                                "attempted": res["attempted"], "failed": res["failed"]})
                for k, v in rep["end_to_end"].items():
                    vals[w][s].setdefault(k, []).append(v["value"])
                print(s, w, seed, res["correct"], res["failed"],
                      {k: round(v["value"], 4) for k, v in res["metrics"].items()}, flush=True)
    base = {"seeds": seeds, "sets": a.sets, "run_seconds": SPEC["run_seconds"],
            "order": "per set: for each seed, every workload in BENCHMARK.json order",
            "machine": {"cores": os.cpu_count(), "platform": platform.platform(), "env": env},
            "workloads": {}}
    for w in names:
        pairs = [(one(w, 1, 0), one(w, 1, 1)) for _ in range(a.pairs)]
        traced = [t for _, t in pairs]
        counts = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]
        pooled = {k: sum((vals[w][s][k] for s in range(a.sets)), []) for k in vals[w][0]}
        base["workloads"][w] = {
            "runs": runs[w],
            "end_to_end": {k: summary(v) for k, v in pooled.items()},
            "per_set": [{k: summary(v) for k, v in vals[w][s].items()}
                        for s in range(a.sets)],
            "set_median_ratio": {
                m["name"]: max(statistics.median(vals[w][s][m["name"]]) for s in range(a.sets)) /
                min(statistics.median(vals[w][s][m["name"]]) for s in range(a.sets)) - 1
                for m in SPEC["end_to_end"]},
            "traced_seed1": {
                "per_layer": traced[0][1]["per_layer"],
                "layer_info": traced[0][1]["layer_info"],
                "tracing_overhead_s": statistics.median(
                    t[1]["end_to_end"]["wall_s"]["value"] - u[1]["end_to_end"]["wall_s"]["value"]
                    for u, t in pairs),
                "pairs_wall_s": [[u[1]["end_to_end"]["wall_s"]["value"],
                                  t[1]["end_to_end"]["wall_s"]["value"]] for u, t in pairs],
                "counts_repeat": all(t[0]["metrics"][k]["value"] ==
                                     traced[0][0]["metrics"][k]["value"]
                                     for t in traced for k in counts)},
        }
        for m in SPEC["end_to_end"]:
            spreads = [base["workloads"][w]["per_set"][s][m["name"]]["spread"]
                       for s in range(a.sets)]
            print(f"{w} {m['name']}: median {base['workloads'][w]['end_to_end'][m['name']]['median']:.4g}"
                  f" set spreads {[round(x, 3) for x in spreads]}"
                  f" set medians differ {base['workloads'][w]['set_median_ratio'][m['name']]:.3f}"
                  f" (bound {m['bound']})", flush=True)
    with open(a.out, "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
