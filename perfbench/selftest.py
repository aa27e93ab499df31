#!/usr/bin/env python3
"""Self-check of the benchmark at sf0.001 (`run.py --scale tiny`).

    python3 perfbench/selftest.py

Checks that
  * every end-to-end metric (`--trace 0`) and every per-layer metric
    (`--trace 1`) named in BENCHMARK.json is emitted with its unit, and the
    report carries each end-to-end metric's sample count;
  * a planted wrong answer (`--corrupt`: one row dropped from an
    operation's output) is reported as a failed operation, on a registry
    workload and on the table workload;
  * the same seed yields identical generated inputs and identical count
    metrics in two traced runs.
Takes a few minutes; exits non-zero on the first failed check.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run as bench  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
COUNTS = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]


def run(workload, seed, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-3000:] + out.stderr[-3000:])
        raise SystemExit(f"FAIL {workload}: run.py exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    report = json.load(open(os.path.join(
        BENCH, "out", f"{workload}-seed{seed}-trace{trace}", "report.json")))
    return result, report


def tree_digest(d):
    h = hashlib.sha1()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main():
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "work")) as d:
        digests = []
        for i in range(2):
            gen.generate(11, 0.001, 300, 300, 0.1, f"{d}/g{i}", 4, 50, 5)
            digests.append(tree_digest(f"{d}/g{i}"))
        check(digests[0] == digests[1], "same seed -> identical generated inputs")

    for w in sorted(bench.WORKLOADS):
        res, rep = run(w, 11, 0)
        listed = sum(pr["executions"] for k, pr in rep["problems"].items()
                     if k != "final_state")
        check(res["correct"] and res["attempted"] > 0 and listed == res["failed"],
              f"{w}: no wrong answer; each of the {res['failed']} failed "
              "operations is listed with its error")
        for m in SPEC["end_to_end"]:
            got = res["metrics"].get(m["name"])
            check(got is not None and got["unit"] == m["unit"],
                  f"{w}: end-to-end {m['name']} [{m['unit']}] emitted")
            check("samples" in rep["end_to_end"][m["name"]],
                  f"{w}: {m['name']} sample count reported")
        traced = [run(w, 11, 1)[0] for _ in range(2)]
        for m in SPEC["per_layer"]:
            got = traced[0]["metrics"].get(m["name"])
            check(got is not None and got["unit"] == m["unit"],
                  f"{w}: per-layer {m['name']} [{m['unit']}] emitted")
        same = {k: traced[0]["metrics"][k]["value"] == traced[1]["metrics"][k]["value"]
                for k in COUNTS}
        check(all(same.values()),
              f"{w}: count metrics repeat across two traced runs "
              f"(differ: {[k for k, v in same.items() if not v]})")

    for w, op in (("etl_events", "q_agg_basic"), ("table_dml", "select_range")):
        res, rep = run(w, 11, 0, "--corrupt", op)
        check(not res["correct"] and res["failed"] >= 1 and
              any(k.startswith(op) for k in rep["problems"]),
              f"{w}: planted wrong answer in {op} reported as failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
