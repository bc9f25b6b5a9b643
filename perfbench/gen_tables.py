"""Seeded generator for the `suite` workload's input tables.

Writes the ten tables that `graft.SparkEntry.queries` read (a TPC-H-ish star
schema, an `events` stream, a `documents` corpus and an `embeddings` table),
one parquet file each, with the column names, types and value domains of the
project's reference test data. The same seed always gives the same bytes of
table content.

The row counts are those of the reference tables at scale factor 0.1, which
`graft.Bench` reads (measured with DuckDB): 100,000 events from 1,500 users
over 5 event types, so the events graph has 1,505 vertices and 7,520 edges;
600,000 line items, 150,000 orders, 15,000 customers, 20,000 parts, 1,000
suppliers; 5,000 documents of 10-100 words from a 31-word vocabulary, one in
twenty a near-duplicate; 2,000 64-dimensional embeddings in 10 clusters.

Usage: python3 gen_tables.py <out_dir> <seed> [<reps>]
The tables are written <reps> times (default 1); the median seconds of one
writing is printed.
"""
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the big small fast slow data row column table key value join "
         "hash sort merge scan filter agg group window part line order "
         "customer query spark stream batch vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "hot", "tiny"]
PART_NOUN = ["widget", "bolt", "anvil", "gear", "spring", "valve", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
# rows of the reference tables at scale factor 0.1
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000, "users": 1_500, "events": 100_000, "documents": 5_000,
        "embeddings": 2_000}
EMBED_CLUSTERS = 10

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dates(rng, start, days, n):
    return EPOCH_1995 + (start + rng.integers(0, days, n)) * np.timedelta64(1, "D")


def write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # one document in twenty is a near-duplicate of another one
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_CLUSTERS, n)
    vecs = centers[label] + rng.normal(0.0, 0.12, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def main(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_line = ROWS["orders"], ROWS["lineitem"]
    n_users, n_events = ROWS["users"], ROWS["events"]
    n_docs, n_vecs = ROWS["documents"], ROWS["embeddings"]

    write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) / 10.0, 2))})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(dates(rng, 0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(dates(rng, 1, 2499, n_line))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    write(out_dir, "documents", documents(rng, n_docs))
    write(out_dir, "embeddings", embeddings(rng, n_vecs))


if __name__ == "__main__":
    times = []
    for _ in range(int(sys.argv[3]) if len(sys.argv) > 3 else 1):
        t = time.monotonic()
        main(sys.argv[1], int(sys.argv[2]))
        times.append(time.monotonic() - t)
    print(statistics.median(times))
