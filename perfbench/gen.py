"""Seeded generator for the benchmark's input tables.

The tables have the schemas and value shapes of graft's star-schema test
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), so every query in SparkEntry reads them unchanged.
The same seed always gives the same bytes of data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["cold", "small", "hot", "large", "blue", "old", "red", "new"]
NOUN = ["widget", "ring", "bolt", "plate", "gear", "nut", "pipe", "valve"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts at scale 1.0; documents and embeddings have floors because the
# text and vector operators need a corpus of some size at every scale.
BASE_ROWS = {"customer": 150000, "supplier": 10000, "part": 200000,
             "orders": 1500000, "events": 1000000}


def _ts(start, micros):
    base = np.datetime64(start, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events(rng, n, users):
    """The `events` stream table: event ids 0..n-1, random times over
    30 days, `users` distinct users (the replicator frames partitions
    as user_id % 8)."""
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", rng.integers(0, 30 * 86400 * 10**6, n)),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_events(out_dir, seed, n, copies=1):
    """`events` of n rows from 1500 users, repeated `copies` times with the
    event ids of copy i shifted by i * n: the copies land on the same
    partitions and follow each other in offset order."""
    os.makedirs(out_dir, exist_ok=True)
    base = pa.table(events(np.random.default_rng(seed), n, 1500))
    tiles = [base.set_column(0, "event_id", pa.array(np.arange(n, dtype=np.int64) + i * n))
             for i in range(copies)]
    pq.write_table(pa.concat_tables(tiles), os.path.join(out_dir, "events.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: one token inserted
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dims=64, labels=10):
    centroids = rng.normal(size=(labels, dims))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, labels, n).astype(np.int32)
    noise = rng.normal(size=(n, dims))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.15 * centroids[label] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(out_dir, seed, scale):
    """All ten tables at `scale` (0.01 gives 60k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 10) for k, v in BASE_ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(price)})
    day = 86400 * 10**6
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        # like TPC-H, every third customer places no orders
        "o_custkey": pa.array(rng.integers(0, nc // 3, no) * 3 + rng.integers(1, 3, no)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * day),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    lines = rng.poisson(4.0, no)  # ~2% of orders have no lineitem
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    pkey = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey] * rng.uniform(0.98, 1.05, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * day)})
    _write(out_dir, "events", events(rng, n["events"], max(int(15000 * scale), 8)))
    _write(out_dir, "documents", _documents(rng, max(int(50000 * scale), 500)))
    _write(out_dir, "embeddings", _embeddings(rng, max(int(20000 * scale), 500)))


if __name__ == "__main__":
    import sys
    write_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
