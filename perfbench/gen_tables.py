"""Seeded generator for the batch-query input tables.

Writes the ten tables `graft.Tables.All` names (one parquet file each) with
the column names, types and value domains of the TPC-H-ish star schema plus
the `events`, `documents` and `embeddings` extension tables. Sizes follow the
0.001 scale factor row counts (lineitem 6,000, orders 1,500, events 1,000, 500
documents and embeddings). The same seed always writes the same bytes.

Usage: python3 perfbench/gen_tables.py <outDir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def ts(lo, hi, n, rng):
    """Uniform microsecond timestamps in [lo, hi)."""
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    return pa.array(rng.integers(a, b, n), pa.timestamp("us"))


def days(lo, hi, n, rng):
    """Uniform midnight timestamps in [lo, hi]."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    n = ROWS
    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    c = n["customer"]
    yield "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c, rng),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]}
    s = n["supplier"]
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s, rng)}
    p = n["part"]
    yield "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, p) * 0.1, 1)}
    o = n["orders"]
    yield "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(1000, 500000, o, rng),
        "o_orderdate": days("1995-01-01", "2001-08-01", o, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]}
    li = n["lineitem"]
    okeys = np.sort(rng.integers(0, o, li))
    line = np.zeros(li, np.int32)
    for i in range(1, li):
        line[i] = line[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, li).astype(np.float64)
    yield "lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(line + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": days("1995-01-02", "2001-11-04", li, rng)}
    e = n["events"]
    yield "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts("2024-01-01", "2024-01-31", e, rng),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(np.maximum(rng.exponential(50, e), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    yield "documents", documents(n["documents"], rng)
    yield "embeddings", embeddings(n["embeddings"], rng)


def documents(n, rng):
    """31-word vocabulary, 10..100 words per doc, ~9 % near-duplicates
    (1..3 words mutated) and a few exact duplicates of recent docs."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.01:
            texts.append(texts[rng.integers(max(0, i - 500), i)])
        elif i > 0 and r < 0.095:
            words = texts[rng.integers(max(0, i - 500), i)].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, 31)]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, 31, rng.integers(10, 101))))
    lang = rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in lang],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def embeddings(n, rng, dim=64):
    """Ten L2-normalised Gaussian clusters in 64 dimensions."""
    centroids = rng.normal(size=(10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=0.125, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


def main():
    out_dir, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, cols in tables(rng):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
