"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the registry rows read (the TPC-H-like star schema,
`events`, `documents`, `embeddings`) as one parquet file each, with the
column names, types and value distributions the engine's testdata has.
The inputs are a pure function of (scale, GEN_SEED): every run and every
checkout of one benchmark version sees identical bytes, so the workload
seed only reorders operations and never changes what the program reads.

Usage: python3 perfbench/gen_data.py <outDir> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

# (sf, documents, embeddings): the star schema and `events` scale with sf.
SCALES = {
    "bench": (0.1, 5000, 2000),
    "smoke": (0.001, 500, 500),
}

WORDS = ("a the data table row column key value query scan join filter "
         "group order sort merge hash batch stream window spark agg part "
         "line customer vector small big fast slow").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows))


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def generate(out_dir, scale):
    sf, n_docs, n_vecs = SCALES[scale]
    rng = np.random.default_rng(GEN_SEED)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust = int(150000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s)})

    n_supp = int(10000 * sf)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})

    n_part = int(200000 * sf)
    keys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1), f64)})

    n_ord = int(1500000 * sf)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": _ts(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})

    n_li = int(6000000 * sf)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": _ts(_days(rng, "1995-01-02", 2499, n_li))})

    n_ev = int(1000000 * sf)
    span_us = 30 * 86400 * 1000000
    offsets = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    # 5% of documents are near-duplicates (another document plus one
    # word) and a few are exact copies, so the dedup rows find pairs.
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n_docs)]
    for d in range(n_docs):
        r = rng.random()
        if r < 0.05:
            texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
        elif r < 0.052:
            texts[d] = texts[int(rng.integers(0, n_docs))]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                                    p=[0.44, 0.14, 0.14, 0.14, 0.14]), s),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2])
