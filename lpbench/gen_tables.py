"""Seeded generator for the engine's parquet corpus.

Writes the ten tables `SparkEntry.queries` read (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) with the schemas and value ranges of
FIXTURES.md part B. Row counts scale with `sf` like the reference corpus:
lineitem has 6,000,000 x sf rows.

Usage: python3 gen_tables.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "small red hot old big blue cold new".split()
NOUN = "ring widget gear plate bolt valve pipe spring".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def row_counts(sf):
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def days(start, n_days, size, rng):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def money(lo, hi, size, rng):
    return np.round(rng.uniform(lo, hi, size), 2)


def documents(n, rng):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n, rng):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(-1000, 10000, n, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist()})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(-1000, 10000, n, rng)})
    n = c["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PTYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": money(1000, 500000, n, rng),
        "o_orderdate": days("1995-01-01", 2405, n, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist()})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n, rng),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": days("1995-01-02", 2499, n, rng)})
    n = c["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, c["customer"] // 10), n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = documents(c["documents"], rng)
    t["embeddings"] = embeddings(c["embeddings"], rng)
    return t


def main():
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows", file=sys.stderr)


if __name__ == "__main__":
    main()
