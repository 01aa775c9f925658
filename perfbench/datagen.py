"""Seeded generator for the benchmark's input tables.

Writes the ten tables the catalog and the round trips read (one parquet
file each), with the schemas and value shapes of the project's TPC-H-ish
test data: region, nation, customer, supplier, part, orders, lineitem,
events, documents (bag-of-words text with exact and near duplicates) and
embeddings (unit-norm float vectors around ten cluster centres).

The same (seed, scale) always gives byte-identical files.

Usage: python3 perfbench/datagen.py OUT_DIR --seed N [--scale SF]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data dup "
         "spark line small fast group customer").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _day_micros(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def generate(out_dir, seed, scale):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 150)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 500)
    n_vec = max(int(20_000 * scale), 500)
    day = 86_400_000_000

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "BUILDING", "FURNITURE",
                                    "MACHINERY", "AUTOMOBILE"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = _day_micros(1995, 1, 1), _day_micros(2001, 8, 1)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(d0 + day + rng.integers(0, (d1 - d0) // day + 95, n_line) * day)})
    e0 = _day_micros(2024, 1, 1)
    gaps = rng.exponential(30 * day / n_evt, n_evt)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(e0 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_evt),
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # the project's corpus shape: 5% near duplicates, each an earlier
    # document with " dup" appended (two of the same source are exact
    # duplicates of each other)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_csv(out_dir, names):
    """Header-less CSV copies of `names` under OUT_DIR/csv, the form an
    embedded database bulk-loads."""
    os.makedirs(os.path.join(out_dir, "csv"), exist_ok=True)
    for name in names:
        pacsv.write_csv(pq.read_table(os.path.join(out_dir, f"{name}.parquet")),
                        os.path.join(out_dir, "csv", f"{name}.csv"),
                        pacsv.WriteOptions(include_header=False))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed, a.scale))
