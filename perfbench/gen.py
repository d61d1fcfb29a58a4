"""Seeded input generator for the benchmark.

Writes TPC-H-like tables plus `events` and `documents` as one Parquet file
each, with the schemas and value domains the engine's analytics keys and
their DuckDB oracles expect. The same (seed, scale) always gives the same
files. Row counts scale like TPC-H: lineitem is 6,000,000 x sf.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf> [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

DAY_US = 86_400_000_000


def sizes(sf):
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    """Whole-day timestamps in [start, end), as naive microseconds."""
    a = np.datetime64(start, "D").astype("int64")
    b = np.datetime64(end, "D").astype("int64")
    d = rng.integers(a, b, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation(rng, n):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)})


def supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})


def part(rng, n):
    keys = np.arange(n)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})


def orders(rng, n, sz):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sz["customer"], n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-02", n),
        "o_orderpriority": pick(rng, PRIORITIES, n)})


def lineitem(rng, n, sz):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sz["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sz["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sz["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-05", n)})


def events(rng, n, sz):
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, sz["customer"] // 10), n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": money(rng, 0.01, 490.02, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n, sz):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


GENERATORS = {
    "region": region, "nation": nation, "customer": customer,
    "supplier": supplier, "part": part, "orders": orders,
    "lineitem": lineitem, "events": events, "documents": documents,
}


def generate(out_dir, seed, sf, tables=None):
    sz = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(GENERATORS):
        if tables and name not in tables:
            continue
        # one stream per table, so a table's rows do not depend on which
        # other tables are generated
        rng = np.random.default_rng([seed, i])
        fn = GENERATORS[name]
        n = sz.get(name, 0)
        tbl = fn(rng, n) if fn in (region, nation, customer, supplier, part) else fn(rng, n, sz)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4:] or None)
