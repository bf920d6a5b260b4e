"""Deterministic query-layer fixture: the ten sf tables (FIXTURES.md section 1)
with their parquet types and value domains, generated from a fixed seed.

The benchmark cannot read a fixture directory from outside its checkout, so it
writes this one at set-up.  The data does not depend on the workload seed: the
stored oracle answers (oracle.json) were computed by DuckDB over exactly these
bytes, and `python3 perfbench/make_oracle.py` recomputes them after a change
here.  Usage: python3 perfbench/fixture.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
SF = 0.1

ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "new", "large", "hot", "cold", "red", "blue", "old"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
DIM = 64


def n_rows(table):
    return int(ROWS[table] * SF)


def day_ts(start, days):
    base = np.datetime64(start, "us")
    return base + (days.astype(np.int64) * 86_400_000_000).astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet",
                   row_group_size=1 << 30)


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n_rows("customer")
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})

    ns = n_rows("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64)})

    npart = n_rows("part")
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), npart)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) * 0.1, 1), f64)})

    no = n_rows("orders")
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2), f64),
        "o_orderdate": pa.array(day_ts("1995-01-01", rng.integers(0, 2404, no)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})

    nl = n_rows("lineitem")
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(day_ts("1995-01-02", rng.integers(0, 2499, nl)),
                               pa.timestamp("us"))})

    ne = n_rows("events")
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(60.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    # documents: random token strings over a small vocabulary, with
    # planted near duplicates (an earlier text plus " dup") and a few
    # exact duplicates, so the dedup family has pairs to find
    nd = n_rows("documents")
    vocab = np.array(VOCAB)
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 101)))]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n_rows("embeddings")
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, DIM))
    v = rng.standard_normal((nv, DIM)) + 0.5 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    generate(sys.argv[1])
