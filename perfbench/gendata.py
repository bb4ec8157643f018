#!/usr/bin/env python3
"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the engine's gates read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the same schemas and value domains as the engine's test
fixtures: a TPC-H-like star schema, an `events` click stream, a
`documents` corpus over a 30-word vocabulary in which one document in
twenty is an earlier document plus the token `dup` (the near-duplicate
mass the dedup operators find), and unit-norm 64-d `embeddings`.

The data seed is fixed, not the workload seed: the pinned result digests
in `digests.json` hold only for these exact bytes.

Usage: gendata.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM = 15000, 60000
N_EVENTS, N_USERS = 10000, 150
N_DOCS, N_VECS, DIMS = 1000, 1000, 64
VOCAB = ("a the data query table row column key value join group agg sort "
         "filter scan hash merge batch stream window spark part order "
         "customer line vector big small fast slow").split()


def days(start, n_days, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)})
    adj = np.array("small large red blue hot cold new old".split())
    noun = np.array("ring widget plate rod bolt gizmo gear anvil".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    pk = np.arange(N_PART)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
                              noun[rng.integers(0, 8, N_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": pa.array(days("1995-01-01", 2404, rng, N_ORDERS),
                                pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, rng, N_LINEITEM),
                               pa.timestamp("us"))})
    gaps = rng.exponential(30 * 86400 / N_EVENTS, N_EVENTS)
    ts = np.datetime64("2024-01-01", "us") + \
        (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 100, N_DOCS)]
    for i in range(N_DOCS):
        if rng.random() < 0.05:
            texts[i] = texts[rng.integers(0, N_DOCS)] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(0.0, 1.0, (N_VECS, DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, t in tables(rng).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
