#!/usr/bin/env python3
"""Deterministic fixture tables for the benchmark.

Writes the ten tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one `<name>.parquet` each, with the column names, types
and value domains the queries expect. The content depends only on the
scale factor and the data seed, so every checkout generates the same
bytes and the recorded expected query results stay valid.

Usage: gen_data.py <out_dir> <scale_factor> [data_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]

US_PER_DAY = 86_400_000_000
DAY_1995 = 9131  # 1995-01-01 in days since the epoch
US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def money(x):
    return np.round(x, 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(rng.uniform(-999.99, 9999.99, n_supp))})
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    odate = DAY_1995 + rng.integers(0, 2400, n_ord)
    cust = rng.integers(0, n_cust, n_ord).astype("int64")
    cust = np.where((cust % 3 == 0) & (cust + 1 < n_cust), cust + 1, cust)
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        # as in TPC-H, every third customer places no orders
        "o_custkey": cust,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": ts(odate * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    yield "lineitem", pa.table({
        "l_orderkey": lok.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": money(qty * rng.uniform(900.0, 2100.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts((odate[lok] + rng.integers(1, 96, n_line)) * US_PER_DAY)})
    yield "events", pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": ts(np.sort(US_2024 + rng.integers(0, 30 * US_PER_DAY, n_evt))),
        "user_id": rng.integers(0, max(150, n_cust // 10), n_evt).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": money(rng.uniform(0.01, 500.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(10, 101, n_doc)]
    # near-duplicate pairs for the dedup operators: every 50th doc
    # copies an earlier one, some with one token appended
    for i in range(50, n_doc, 50):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if i % 100 == 0 else src + " dup"
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vec = centers[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype("int32")})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    os.makedirs(out, exist_ok=True)
    for name, t in tables(sf, seed):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
