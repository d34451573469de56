"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the program reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file each,
in the shapes and value ranges of the project's test data: a TPC-H-like star,
an append-only event log and a small text/embedding corpus. The tables depend
only on the scale factor and DATA_SEED, never on a workload seed, so every run
reads the same data and only the request mix, message stream or key order
changes with --seed.

Usage: python3 gen_data.py <scale factor> <out dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a the data spark stream batch table row column key value query "
         "filter join group order sort merge hash scan window agg part line "
         "customer vector big small fast slow").split()
LANGS = (["en"] * 8) + ["es", "es", "fr", "fr", "de", "de", "zh", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def sizes(sf):
    n = lambda base, lo: max(lo, int(round(base * sf)))
    return dict(customer=n(150000, 150), supplier=n(10000, 10),
                part=n(200000, 200), orders=n(1500000, 1500),
                lineitem=n(6000000, 6000), events=n(1000000, 1000),
                documents=n(50000, 500), embeddings=n(20000, 500),
                users=n(15000, 150))


def days(rng, n, start, span):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def main(sf, out):
    rng = np.random.default_rng(DATA_SEED)
    s = sizes(sf)
    os.makedirs(out, exist_ok=True)
    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc = s["customer"]
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}))
    ns = s["supplier"]
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))
    npart = s["part"]
    write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [TYPES[t] for t in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)}))
    no = s["orders"]
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(days(rng, no, "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}))
    nl = s["lineitem"]
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(days(rng, nl, "1995-01-02", 2498),
                               pa.timestamp("us"))}))
    ne = s["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, ne))
    write(out, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"] // 10, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}))
    nd = s["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 101, nd)]
    # a few exact duplicates under other ids, as a crawl would hold
    for i in range(max(1, nd // 600)):
        a, b = rng.choice(nd, 2, replace=False)
        texts[a] = texts[a] + " dup"
        texts[b] = texts[a]
    write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    nv = s["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}))


if __name__ == "__main__":
    main(float(sys.argv[1]), sys.argv[2])
