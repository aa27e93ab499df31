#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

    python3 perfbench/run.py --workload etl_events --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark program from source on first use
(`perfbench/target`), generates the workload's inputs from `--seed`, runs
the workload in a closed loop for `--seconds`, checks every operation's
output, prints a table of metrics and, as the last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (and writes the span
trace). See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

ENGINE_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
PARITY = os.path.join(ROOT, "tools", "check_parity.py")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")  # the installed Spark
CLASSPATH_FILE = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP_FILE = os.path.join(BENCH, "target", "bench-sources.sha1")

# Workloads. `sizes` go to gen.py; `queries` are SparkEntry.queries names,
# run in this order every pass.
WORKLOADS = {
    "etl_events": {
        "sizes": {"sf": 0.01, "n_docs": 500, "n_vecs": 500},
        "queries": [
            # Relational / Windows / ApproxAgg / UdfSurface / Sampling
            "q_agg_basic", "q_join_inner", "q_window_rank", "n_agg_approx",
            "q_cogroup_agg", "q_weighted_sample",
            # record-level Etl: serde, extract/default, token classify,
            # error split, regex, PII
            "q_json_serde", "q_extract_default", "q_token_classify",
            "q_error_split", "q_error_split_parse", "q_regex", "q_pii_redact",
            # the anti-scaler containment join
            "q_containment",
            # Streaming: the same events as micro-batches
            "n_stream_tumble",
        ],
        "families": {
            "relational": ["q_agg_basic", "q_join_inner", "n_agg_approx",
                           "q_cogroup_agg", "q_weighted_sample"],
            "windows": ["q_window_rank"],
            "etl": ["q_json_serde", "q_extract_default", "q_token_classify",
                    "q_error_split", "q_error_split_parse", "q_regex",
                    "q_pii_redact"],
            "dedup": ["q_containment"],
            "streaming": ["n_stream_tumble"],
        },
    },
    "table_dml": {
        "sizes": {"sf": 0.003, "n_docs": 500, "n_vecs": 500,
                  "dml_rounds": 40, "dml_batch": 200, "dml_band": 10},
        "table": {"compact_every": 1, "partition_width": 500},
    },
    "llm_curation": {
        "sizes": {"sf": 0.001, "n_docs": 1000, "n_vecs": 800},
        "queries": [
            # Dedup: MinHash/LSH (the shared pair table) and its clusters
            "q_minhash_lsh", "q_dup_clusters",
            # Similarity: exact kNN (block pair scan), IVF index (ModelStore
            # Lloyd build) + query
            "q_cosine_knn", "n_cosine_knn_ivf",
            # Text: tf-idf (idf + token-pair artifacts), BM25, PII
            "q_tfidf", "q_bm25", "q_pii_entities",
            # in-run reuse: the artifact-backed queries again, now served
            "q_minhash_lsh", "n_cosine_knn_ivf", "q_tfidf",
        ],
        "families": {
            "dedup": ["q_minhash_lsh", "q_dup_clusters"],
            "similarity": ["q_cosine_knn", "n_cosine_knn_ivf"],
            "text": ["q_tfidf", "q_bm25", "q_pii_entities"],
        },
        "ann": ["n_cosine_knn_ivf"],
    },
}
# --scale tiny: the self-test size (sf0.001 tables, small corpus)
TINY = {"sf": 0.001, "n_docs": 300, "n_vecs": 300, "dml_rounds": 6,
        "dml_batch": 50, "dml_band": 5}
TABLE_COLS = ["id", "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_discount", "l_returnflag"]

# the metric names and units the JSON line reports
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TAIL = 0.9  # nearest-rank percentile printed as the tail latency (README.md)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# --------------------------------------------------------------- building
def source_stamp():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                h.update(p.encode() + b"\0" + f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE) \
            and open(STAMP_FILE).read() == stamp:
        return open(CLASSPATH_FILE).read().strip()
    log("building engine + benchmark program (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dgraftbench.sparkJars={SPARK_JARS}",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    cmd += ["compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BENCH, env, timeout=480)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [l for l in out.splitlines() if "target/scala-" in l and ":" in l]
    if not cp:
        fail("build printed no classpath")
    cp = cp[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def run_child(cmd, cwd, env, timeout, stdout_path=None):
    """Run a child in its own process group and return (exit code, output);
    on timeout kill the whole group (exit code None). Always waits for the
    child to end."""
    sink = open(stdout_path, "w") if stdout_path else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sink,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        code = p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])}")
        out, code = None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if stdout_path:
            sink.close()
    return code, out if out is not None else open(stdout_path).read() if stdout_path else ""


# ------------------------------------------------------------------ stats
def q(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def heap_size():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        gb = max(2, min(8, kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration):
        gb = 2
    return f"{gb}g"


def java_cmd(cp, work, plan):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    return (["java"] + [f"--add-opens={o}=ALL-UNNAMED" for o in opens] +
            [f"-Xmx{heap_size()}", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             f"-Dderby.system.home={work}",
             "-cp", cp, "graftbench.Main", plan])


# ----------------------------------------------------------------- checks
def load_parity():
    spec = importlib.util.spec_from_file_location("check_parity", PARITY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_registry(run, sfdir, outdir):
    """Each query's first execution against its oracle SQL in DuckDB (the
    comparison rules of tools/check_parity.py), or, without an oracle,
    non-empty output; every later execution must equal the first by
    digest and then shares its verdict. Returns one verdict per execution:
    None (passed), ("error", why) for an operation that raised, ("check",
    why) for output that failed its check (a wrong answer), or
    ("unchecked", why) when the oracle cannot run on the inputs."""
    import duckdb
    import pandas as pd
    parity = load_parity()
    con = duckdb.connect()
    for t in parity.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = run["final"]["oracle"]
    first, verdict = {}, []
    for e in run["execs"]:
        op = e["op"]
        if "error" in e:
            v = ("error", e["error"])
        elif op in first:
            fp0, v0 = first[op]
            v = v0 if e["fp"] == fp0 else (
                "check", f"output differs from the first execution ({e['fp']} vs {fp0})")
        elif op in oracle:
            got = pd.read_parquet(f"{outdir}/results/{e['result']}")
            try:
                want = con.sql(oracle[op]).df()
                diffs = parity.compare(op, got, want)
                v = ("check", "; ".join(diffs)) if diffs else None
            except Exception as ex:  # an oracle that cannot run
                v = ("unchecked", f"oracle SQL error: {ex}")
        else:
            v = None if e["rows"] > 0 else ("check", "empty output")
        if "error" not in e and op not in first:
            first[op] = (e["fp"], v)
        verdict.append(v)
    return verdict


def check_table(run, gendir, outdir):
    """Replays the same statements on an independent DuckDB model of the
    table; compares every SELECT, every feed (by its apply equation
    `to = (from - deletes) + inserts` as row multisets), the write
    statements' row counts and the final state. A statement that raised
    is a failed operation and changes nothing in the model (a failed
    statement commits nothing), so the reads after it check that too.
    Returns the verdicts (as in `check_registry`) and the final state's."""
    import duckdb
    con = duckdb.connect()
    dml = f"{gendir}/dml"
    cols = ", ".join(TABLE_COLS)
    con.execute(f"CREATE TABLE li AS SELECT {cols} FROM read_parquet('{dml}/base.parquet')")
    con.execute("CREATE TABLE prev AS SELECT * FROM li")
    rounds = json.load(open(f"{dml}/rounds.json"))

    def rows(sql):
        return [list(r) for r in con.execute(sql).fetchall()]

    def agg():
        return rows("SELECT count(*), sum(id), sum(CAST(l_quantity AS BIGINT)), "
                    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM li")[0]

    prev_agg = agg()
    verdict = []
    by_pass = {}
    for e in run["execs"]:
        by_pass.setdefault(e["pass"], []).append(e)
    for p in sorted(by_pass):
        r = rounds[p]
        for e in by_pass[p]:
            op, ok, why = e["op"], True, ""
            got = e.get("values")
            if "error" in e:
                verdict.append(("error", e["error"]))
                continue
            if op == "insert":
                con.execute(f"INSERT INTO li SELECT {cols} FROM read_parquet('{dml}/ins_{p}.parquet')")
                n = rows(f"SELECT count(*) FROM read_parquet('{dml}/ins_{p}.parquet')")[0][0]
                ok, why = got[0][0] == n, f"rows_inserted {got} != {n}"
            elif op == "merge":
                src = f"read_parquet('{dml}/mrg_{p}.parquet')"
                con.execute(f"DELETE FROM li WHERE id IN (SELECT id FROM {src})")
                con.execute(f"INSERT INTO li SELECT {cols} FROM {src}")
            elif op in ("delete", "update"):
                lo, hi = r[op]
                n = rows(f"SELECT count(*) FROM li WHERE l_orderkey BETWEEN {lo} AND {hi}")[0][0]
                if op == "delete":
                    con.execute(f"DELETE FROM li WHERE l_orderkey BETWEEN {lo} AND {hi}")
                else:
                    con.execute("UPDATE li SET l_quantity = l_quantity + 1, l_returnflag = 'U' "
                                f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
                ok, why = got[0][0] == n, f"rows_{op}d {got} != {n}"
            elif op == "select_point":
                want = rows(f"SELECT {cols} FROM li WHERE l_orderkey = {r['point']} ORDER BY id")
                ok, why = got == want, "point select differs from the model"
            elif op == "select_range":
                lo, hi = r["range"]
                want = rows(f"SELECT {cols} FROM li WHERE l_orderkey BETWEEN {lo} AND {hi} ORDER BY id")
                ok, why = got == want, "range select differs from the model"
            elif op == "select_scan":
                want = rows("SELECT l_returnflag, count(*), sum(CAST(l_quantity AS BIGINT)), "
                            "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM li "
                            "GROUP BY l_returnflag ORDER BY l_returnflag")
                ok, why = got == want, f"aggregate {got} != model {want}"
            elif op == "time_travel":
                ok, why = got == [prev_agg], f"time travel {got} != model {prev_agg}"
            elif op == "feed":
                fd = f"read_parquet('{outdir}/results/{e['result']}/*.parquet')"
                bad = rows(f"""
                    WITH applied AS (
                      (SELECT * FROM prev EXCEPT ALL
                       SELECT {cols} FROM {fd} WHERE _change_type = 'delete')
                      UNION ALL SELECT {cols} FROM {fd} WHERE _change_type = 'insert'),
                    d1 AS (SELECT * FROM applied EXCEPT ALL SELECT * FROM li),
                    d2 AS (SELECT * FROM li EXCEPT ALL SELECT * FROM applied),
                    d3 AS (SELECT {cols} FROM {fd} WHERE _change_type = 'delete'
                           EXCEPT ALL SELECT * FROM prev)
                    SELECT (SELECT count(*) FROM d1), (SELECT count(*) FROM d2),
                           (SELECT count(*) FROM d3)""")[0]
                ok, why = bad == [0, 0, 0], f"feed does not apply: {bad} rows off"
            verdict.append(None if ok else ("check", f"round {p}: {why}"))
        prev_agg = agg()
        con.execute("DROP TABLE prev")
        con.execute("CREATE TABLE prev AS SELECT * FROM li")
    fin = f"read_parquet('{outdir}/results/final_state/*.parquet')"
    off = rows(f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM {fin} EXCEPT ALL SELECT * FROM li)),
                          (SELECT count(*) FROM (SELECT * FROM li EXCEPT ALL SELECT {cols} FROM {fin}))""")[0]
    return verdict, None if off == [0, 0] else (
        "check", f"final table differs from the model: {off} rows off")


def recall_metrics(run, gendir, outdir):
    """knn_recall: top-3 neighbours of the IVF index (n_cosine_knn_ivf)
    against the exact kNN (q_cosine_knn, oracle-checked). dup_recall:
    planted near-duplicate pairs found by q_minhash_lsh."""
    import pandas as pd
    res = {e["op"]: e["result"] for e in run["execs"] if e.get("result")}
    out = {}
    if res.get("q_cosine_knn") and res.get("n_cosine_knn_ivf"):
        exact = pd.read_parquet(f"{outdir}/results/{res['q_cosine_knn']}")
        ann = pd.read_parquet(f"{outdir}/results/{res['n_cosine_knn_ivf']}")
        ex = set(map(tuple, exact[exact.rn <= 3][["id1", "id2"]].values.tolist()))
        an = set(map(tuple, ann[["id1", "id2"]].values.tolist()))
        out["knn_recall"] = len(ex & an) / max(1, len(ex))
    if res.get("q_minhash_lsh"):
        got = pd.read_parquet(f"{outdir}/results/{res['q_minhash_lsh']}")
        found = set(map(tuple, got[["id1", "id2"]].values.tolist()))
        planted = pd.read_parquet(f"{gendir}/truth/planted_pairs.parquet")
        pairs = {(min(a, b), max(a, b)) for a, b in planted.values.tolist()}
        out["dup_recall"] = len(pairs & found) / max(1, len(pairs))
    return out


# ---------------------------------------------------------------- metrics
def end_to_end(run, setup_s, verdict, extra):
    lat = [e["latency_s"] for e in run["execs"]]
    walls = {}
    for e in run["execs"]:
        walls[e["pass"]] = walls.get(e["pass"], 0.0) + e["latency_s"]
    m = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (walls[0], "s", 1),
        "op_geomean_s": (statistics.geometric_mean(lat), "s", len(lat)),
        "op_p50_s": (statistics.median(lat), "s", len(lat)),
        "op_tail_s": (q(lat, TAIL), "s", len(lat)),
        "peak_heap_mb": (run["peak_heap_mb"], "MB", len(run["pass_wall_s"])),
        "fail_ratio": (sum(v is not None for v in verdict) / len(verdict), "ratio", len(verdict)),
    }
    for kind in ("read", "write"):
        xs = [e["latency_s"] for e in run["execs"] if e["kind"] == kind]
        if xs:
            m[f"{kind}_p50_s"] = (statistics.median(xs), "s", len(xs))
            m[f"{kind}_tail_s"] = (q(xs, TAIL), "s", len(xs))
    fin = run["final"]
    if "table_bytes" in fin:
        m["space_amp"] = (fin["table_bytes"] / fin["compact_live_bytes"], "ratio", 1)
    for k, v in extra.items():
        m[k] = (v, "ratio", 1)
    return m


def per_layer(run, wl, trace):
    """Per-layer numbers from the traced run. Times are seconds per pass
    (run total / passes); counts and bytes come from a fixed prefix of the
    run (the first two passes), so they repeat exactly per seed."""
    execs, jobs = run["execs"], run.get("jobs", [])
    passes = len(run["pass_wall_s"])
    prefix = {e["i"] for e in execs if e["pass"] < 2}
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["exec"], []).append(j)

    def per_pass(xs):
        return sum(xs) / passes

    m = {}
    m["query.build_s"] = per_pass(e["build_s"] for e in execs)
    m["query.plan_s"] = per_pass(e["plan_s"] for e in execs)
    m["query.exec_s"] = per_pass(e["exec_s"] for e in execs)
    job_s = [union_s([(j["start_ms"] / 1e3, j["end_ms"] / 1e3)
                      for j in jobs_of.get(e["i"], [])]) for e in execs]
    m["spark.job_s"] = per_pass(job_s)
    m["spark.driver_gap_s"] = per_pass(
        max(0.0, e["latency_s"] - js) for e, js in zip(execs, job_s))
    m["jvm.gc_s"] = run["gc_s"] / passes
    pj = [j for j in jobs if j["exec"] in prefix]
    m["spark.jobs"] = len(pj)
    m["spark.stages"] = sum(j["stages"] for j in pj)
    m["spark.tasks"] = sum(j["tasks"] for j in pj)
    mb = 1024 * 1024
    m["spark.shuffle_read_mb"] = sum(j["shuffle_read_b"] for j in pj) / mb
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in pj) / mb
    m["spark.input_mb"] = sum(j["input_b"] for j in pj) / mb
    m["spark.spill_mb"] = sum(j["spill_b"] for j in pj) / mb

    def njobs(pred):
        return sum(len(jobs_of.get(e["i"], [])) for e in execs
                   if e["i"] in prefix and pred(e))

    def nexec(pred):
        return sum(1 for e in execs if e["i"] in prefix and pred(e))

    # table layer (zero on the workloads that do not touch it)
    reads = lambda e: e["kind"] == "read"  # noqa: E731
    writes = lambda e: e["kind"] == "write"  # noqa: E731
    m["table.jobs_per_read"] = njobs(reads) / max(1, nexec(reads))
    m["table.jobs_per_commit"] = njobs(writes) / max(1, nexec(writes))
    m["table.input_mb_per_read"] = sum(
        j["input_b"] for e in execs if e["i"] in prefix and reads(e)
        for j in jobs_of.get(e["i"], [])) / mb / max(1, nexec(reads))
    rounds = run["final"].get("rounds", [])
    last = rounds[0] if rounds else {}
    m["table.files_live"] = last.get("files_live", 0)
    m["table.dv_files"] = last.get("dv_files", 0)
    m["table.snapshots"] = last.get("snapshots", 0)
    # bytes the write statements added under the table directory, over the
    # compact size of the live rows
    fin = run["final"]
    written, before = 0, fin.get("seed_bytes", 0)
    for e in execs:
        if "bytes_after" in e:
            written += max(0, e["bytes_after"] - before)
            before = e["bytes_after"]
    m["table.write_amp"] = written / fin["compact_live_bytes"] if written else 0.0
    # artifact store: trees built, and later executions of a building
    # operation that built nothing (served from the store or its memo)
    m["artifact.builds"] = sum(len(e["built"]) for e in execs if e["i"] in prefix)
    builders, hits = set(), 0
    for e in execs:
        if e["i"] in prefix:
            hits += e["op"] in builders and not e["built"]
            if e["built"]:
                builders.add(e["op"])
    m["artifact.hits"] = hits
    # first execution of each operation in the run vs. the ones after it
    seen, first = set(), set()
    for e in execs:
        if e["op"] not in seen:
            seen.add(e["op"])
            first.add(e["i"])
    ann = set(wl.get("ann", []))
    m["ann.build_jobs"] = njobs(lambda e: e["i"] in first and e["op"] in ann)
    dedup = set(wl.get("families", {}).get("dedup", []))
    m["dedup.jobs"] = njobs(lambda e: e["i"] in first and e["op"] in dedup)
    m["dedup.pairs_out"] = sum(e["rows"] for e in execs
                               if e["i"] in first and e["op"] == "q_minhash_lsh")
    # workload-specific layer times: printed and kept in the report, not
    # in the JSON line (they do not exist on every workload)
    info = {}
    for fam, names in wl.get("families", {}).items():
        info[f"query.{fam}_s"] = per_pass(e["latency_s"] for e in execs if e["op"] in names)
    for op in ("insert", "merge", "delete", "update", "select_point", "select_range",
               "select_scan", "time_travel", "feed", "compact", "vacuum"):
        xs = [e["latency_s"] for e in execs if e["op"] == op]
        if xs:
            info[f"table.{op}_s"] = statistics.median(xs)
    ab = run["final"].get("artifact_build_s", {})
    if ab:
        info["artifact.build_s"] = sum(ab.values())
    if ann:
        info["ann.build_s"] = sum(e["latency_s"] for e in execs
                                  if e["i"] in first and e["op"] in ann)
        warm = [e["latency_s"] for e in execs if e["i"] not in first and e["op"] in ann]
        if warm:
            info["ann.query_s"] = statistics.median(warm)
    if dedup:
        info["dedup.s"] = per_pass(e["latency_s"] for e in execs if e["op"] in dedup)
    if trace:
        info.update(self_times(trace))
    return m, info


def union_s(iv):
    """Length of the union of intervals [(start, end), ...]."""
    tot, end = 0.0, -1e30
    for a, b in sorted(iv):
        if b > end:
            tot += b - max(a, end)
            end = b
    return tot


def self_times(trace):
    """Self time per span kind (the span minus what its children cover)."""
    spans = trace["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        kind = s[2].split(":")[1] if s[2].startswith("phase:") else s[2].split(":")[0]
        cov = union_s([(max(c[3], s[3]), min(c[4], s[4])) for c in kids.get(s[0], [])
                       if min(c[4], s[4]) > max(c[3], s[3])])
        out[f"self.{kind}_s"] = out.get(f"self.{kind}_s", 0.0) + max(0.0, s[4] - s[3] - cov)
    return out


def unit_of(name):
    """Unit of a printed per-layer number (those in BENCHMARK.json carry theirs)."""
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    return spec.get(name, "MB" if "_mb" in name else "s")


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description="graft benchmark of record")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sf0.001 inputs")
    ap.add_argument("--corrupt", default=None,
                    help="self-test only: drop a row from this operation's output")
    a = ap.parse_args()

    for need in (ENGINE_ENTRY, PARITY):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found: run from a checkout of the repository")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME")
    wl = WORKLOADS[a.workload]
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BENCH, "work", f"{tag}-{os.getpid()}")
    outdir = os.path.join(BENCH, "out", tag)
    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir)
    try:
        return measure(a, wl, cp, work, outdir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, wl, cp, work, outdir):
    sizes = tiny(wl["sizes"]) if a.scale == "tiny" else wl["sizes"]
    os.makedirs(f"{work}/tmp")
    gendir = f"{work}/gen"
    t0 = time.perf_counter()
    generate(a.seed, sizes, gendir)
    gen_s = time.perf_counter() - t0

    plan = make_plan(a.workload, wl, gendir, work, outdir, a.seconds, a.trace, a.corrupt)
    with open(f"{work}/plan.json", "w") as f:
        json.dump(plan, f)
    t0 = time.time()
    code, out = run_child(java_cmd(cp, work, f"{work}/plan.json"), work, dict(os.environ),
                          timeout=max(150, 8 * a.seconds + 90), stdout_path=f"{outdir}/jvm.log")
    jvm_wall = time.time() - t0
    if code != 0 or not os.path.exists(f"{outdir}/run.json"):
        sys.stderr.write("\n".join(out.splitlines()[-40:]) + "\n")
        fail(f"benchmark JVM exited with {code}")
    run = json.load(open(f"{outdir}/run.json"))

    # checks, outside every timed interval
    extra, final = {}, None
    if a.workload == "table_dml":
        verdict, final = check_table(run, gendir, outdir)
    else:
        verdict = check_registry(run, f"{gendir}/sf", outdir)
        extra = recall_metrics(run, gendir, outdir)
    # set-up: one input generation, JVM start to `main`, the session and
    # the workload's seeding
    setup_s = gen_s + run["jvm_boot_s"] + sum(run["setup_s"])
    e2e = end_to_end(run, setup_s, verdict, extra)
    trace = json.load(open(f"{outdir}/trace.json")) if a.trace else None
    layers, info = per_layer(run, wl, trace) if a.trace else ({}, {})

    # failures per operation: kind, executions, first reason
    problems = {}
    for e, v in zip(run["execs"], verdict):
        if v is not None:
            pr = problems.setdefault(e["op"], {"kind": v[0], "executions": 0, "why": v[1]})
            pr["executions"] += 1
    if final is not None:
        problems["final_state"] = {"kind": final[0], "executions": 1, "why": final[1]}
    attempted = len(verdict)
    failed = sum(v is not None for v in verdict)
    # `correct`: no output was found wrong; operations that raised, and
    # outputs whose oracle cannot run, count in `failed` only
    wrong = [k for k, pr in problems.items() if pr["kind"] == "check"]
    correct = not wrong
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "inputs": info_sizes(gendir), "env": run["env"],
              "heap": heap_size(), "passes": len(run["pass_wall_s"]),
              "pass_wall_s": run["pass_wall_s"], "gen_s": gen_s,
              "jvm_boot_s": run["jvm_boot_s"], "session_setup_s": run["setup_s"],
              "jvm_wall_s": jvm_wall,
              "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                             for k, (v, u, n) in e2e.items()},
              "per_layer": layers, "layer_info": info,
              "problems": problems, "attempted": attempted, "failed": failed,
              "wrong": wrong}
    with open(f"{outdir}/report.json", "w") as f:
        json.dump(report, f, indent=1)
    print_summary(a, run, e2e, layers, info, problems, verdict)

    if a.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def tiny(sizes):
    return dict(sizes, **{k: v for k, v in TINY.items() if k in sizes})


def generate(seed, sizes, out):
    gen.generate(seed, sizes["sf"], sizes["n_docs"], sizes["n_vecs"], 0.1, out,
                 sizes.get("dml_rounds", 0), sizes.get("dml_batch", 0),
                 sizes.get("dml_band", 0))


def make_plan(workload, wl, gendir, work, outdir, seconds, trace, corrupt):
    plan = {"workload": workload, "sf_dir": f"{gendir}/sf", "work_dir": work,
            "out_dir": outdir, "seconds": seconds, "trace": bool(trace),
            "cores": os.cpu_count() or 1, "corrupt": corrupt,
            "queries": wl.get("queries", [])}
    if "table" in wl:
        plan["table"] = dict(wl["table"], dml_dir=f"{gendir}/dml")
    return plan


def info_sizes(gendir):
    return json.load(open(f"{gendir}/truth/sizes.json"))


def print_summary(a, run, e2e, layers, info, problems, verdict):
    env = run["env"]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}: "
          f"{len(run['pass_wall_s'])} passes, {len(verdict)} operations; "
          f"local[{env['cores']}], shuffle partitions {env['shuffle_partitions']}, "
          f"heap {env['max_heap_mb']} MB, GC {env['gc']}")
    tail = f"p{TAIL * 100:g}"
    print(f"# {'metric':<24} {'value':>14} {'unit':<6} samples")
    for k, (v, u, n) in e2e.items():
        note = f" ({tail})" if k.endswith("_tail_s") else ""
        print(f"  {k:<24} {v:>14.6g} {u:<6} {n if n is not None else '-'}{note}")
    for k, v in list(layers.items()) + list(info.items()):
        print(f"  {k:<24} {v:>14.6g} {unit_of(k)}")
    per_op = {}
    for e, v in zip(run["execs"], verdict):
        c = per_op.setdefault(e["op"], [0, 0])
        c[0] += 1
        c[1] += v is not None
    print("# check per operation (executions/failed): " +
          ", ".join(f"{k} {n}/{f}" for k, (n, f) in per_op.items()))
    for k, pr in problems.items():
        print(f"# FAIL {k} ({pr['kind']}, {pr['executions']} executions): {pr['why'][:300]}")


if __name__ == "__main__":
    sys.exit(main())
