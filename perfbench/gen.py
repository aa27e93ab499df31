#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the engine's query registry reads
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each, with the column names and types of
the project's TPC-H-ish test data) into `<out>/sf/`, the ground truth the
checks need into `<out>/truth/`, and optionally the `table_dml` statement
inputs (`<out>/dml/`). A seeded 2% of the `events.props` payloads are
malformed or incomplete.

Same seed and sizes -> byte-identical files.

    python3 perfbench/gen.py --seed 7 --sf 0.01 --docs 2000 --vecs 4000 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
PART_ADJ = "small red blue hot old new large".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil".split()
PTYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
# Malformed / incomplete `props` payloads injected into `events`: text that
# is not JSON at all, JSON missing the `k` field, and a wrong-typed `k`.
BAD_PROPS = ["{not:json-!", "{}", '{"j": 5}', '{"k": "x"}']


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, sf: float, out: str) -> dict:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS}), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n_line) * np.timedelta64(1, "D")}),
        f"{out}/lineitem.parquet")

    # events: ids in time order over 30 days, a `{"k": n}` JSON payload
    # (`malformed` replaces 2% of them), and the `error` type / value < 1
    # rows that drive the bad-token (malformed header, expired claim)
    # branches.
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")
    write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(list(props), pa.string())}), f"{out}/events.parquet")
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev}


def malformed(rng, sfdir: str) -> dict:
    """Replaces a seeded 2% of `events.props` with malformed or incomplete
    payloads (`BAD_PROPS`)."""
    ev = pq.read_table(f"{sfdir}/events.parquet")
    props = np.array(ev["props"].to_pylist(), dtype=object)
    bad = rng.random(len(props)) < 0.02
    props[bad] = np.array(BAD_PROPS, dtype=object)[rng.integers(0, len(BAD_PROPS), bad.sum())]
    ev = ev.set_column(ev.schema.get_field_index("props"), "props",
                       pa.array(list(props), pa.string()))
    write(ev, f"{sfdir}/events.parquet")
    return {"events_bad_props": int(bad.sum())}


def documents(rng, n_docs: int, dup_rate: float, out: str, truth: str) -> dict:
    """Token documents over a Zipf-weighted vocabulary (the project's 30
    common words plus a long tail), so unrelated documents share few
    tokens. A `dup_rate` share are near-copies of an earlier document:
    the same token set with a few of its own tokens repeated at the end.
    The planted pairs go to `truth/planted_pairs.parquet`."""
    vocab = np.array(VOCAB + [f"w{i}" for i in range(3000)])
    p = 1.0 / (np.arange(len(vocab)) + 10.0)
    p /= p.sum()
    lens = rng.integers(10, 101, n_docs)
    texts, pairs = [], []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            toks = toks + [toks[j] for j in rng.integers(0, len(toks), 3)]
            pairs.append((src, i))
        else:
            toks = list(vocab[rng.choice(len(vocab), lens[i], p=p)])
        texts.append(" ".join(toks))
    write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    write(pa.table({"a": pa.array([q[0] for q in pairs], pa.int64()),
                    "b": pa.array([q[1] for q in pairs], pa.int64())}),
          f"{truth}/planted_pairs.parquet")
    return {"documents": n_docs, "planted_pairs": len(pairs)}


DML_COLS = ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_returnflag"]


def dml(rng, sfdir: str, out: str, rounds: int, batch: int, band: int) -> dict:
    """The `table_dml` statement inputs: the base table (the generated
    lineitem with a unique `id`), one INSERT batch and one MERGE upsert
    batch per round, and each round's key bands (`rounds.json`). A band
    is spelled `BETWEEN lo AND hi` in one of the round's DELETE and UPDATE
    (`between`: the DELETE in even rounds, the UPDATE in odd ones) and
    `>= lo AND <= hi` in the other, as SQL users write both."""
    li = pq.read_table(f"{sfdir}/lineitem.parquet", columns=DML_COLS)
    n = li.num_rows
    n_ord = int(pa.compute.max(li["l_orderkey"]).as_py()) + 1
    write(li.add_column(0, "id", pa.array(np.arange(n, dtype=np.int64))),
          f"{out}/base.parquet")
    next_id, meta = n, []

    def rows(ids):
        k = len(ids)
        return pa.table({
            "id": pa.array(ids, pa.int64()),
            "l_orderkey": rng.integers(0, n_ord, k, dtype=np.int64),
            "l_partkey": rng.integers(0, 200_000, k, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": money(rng, 900, 105_000, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)]})

    for r in range(rounds):
        write(rows(np.arange(next_id, next_id + batch)), f"{out}/ins_{r}.parquet")
        next_id += batch
        old = rng.choice(next_id, batch // 2, replace=False)
        new = np.arange(next_id, next_id + batch - batch // 2)
        next_id += len(new)
        write(rows(np.concatenate([old, new])), f"{out}/mrg_{r}.parquet")
        lo = rng.integers(0, n_ord - 4 * band, 4)
        meta.append({"delete": [int(lo[0]), int(lo[0]) + band - 1],
                     "update": [int(lo[1]), int(lo[1]) + band - 1],
                     "range": [int(lo[2]), int(lo[2]) + band - 1],
                     "point": int(lo[3]),
                     "between": "delete" if r % 2 == 0 else "update"})
    with open(f"{out}/rounds.json", "w") as f:
        json.dump(meta, f)
    return {"dml_base_rows": n, "dml_rounds": rounds, "dml_batch": batch}


def embeddings(rng, n_vecs: int, out: str) -> dict:
    """Unit vectors (dim 64) around 10 label centroids."""
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    v = centers[labels] * 0.35 + rng.normal(0, 1, (n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels)}), f"{out}/embeddings.parquet")
    return {"embeddings": n_vecs}


def generate(seed: int, sf: float, n_docs: int, n_vecs: int, dup_rate: float,
             out: str, dml_rounds: int = 0, dml_batch: int = 0,
             dml_band: int = 0) -> dict:
    sfdir, truth = f"{out}/sf", f"{out}/truth"
    os.makedirs(sfdir, exist_ok=True)
    os.makedirs(truth, exist_ok=True)
    # one independent stream per table family, so resizing one family
    # leaves the others' bytes unchanged
    rel, doc, vec, stm, bad = (np.random.default_rng([seed, k]) for k in range(5))
    sizes = {"seed": seed, "sf": sf}
    sizes.update(relational(rel, sf, sfdir))
    sizes.update(malformed(bad, sfdir))
    sizes.update(documents(doc, n_docs, dup_rate, sfdir, truth))
    sizes.update(embeddings(vec, n_vecs, sfdir))
    if dml_rounds:
        os.makedirs(f"{out}/dml", exist_ok=True)
        sizes.update(dml(stm, sfdir, f"{out}/dml", dml_rounds, dml_batch, dml_band))
    with open(f"{truth}/sizes.json", "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--vecs", type=int, default=500)
    ap.add_argument("--dup-rate", type=float, default=0.1)
    ap.add_argument("--dml-rounds", type=int, default=0)
    ap.add_argument("--dml-batch", type=int, default=500)
    ap.add_argument("--dml-band", type=int, default=20)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.sf, a.docs, a.vecs, a.dup_rate, a.out,
                              a.dml_rounds, a.dml_batch, a.dml_band)))


if __name__ == "__main__":
    main()
