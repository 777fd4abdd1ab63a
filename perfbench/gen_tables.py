"""Generate the sf0.1 star schema the catalog workloads read.

The tables have the row counts, column types and value distributions of
the repository's sf0.1 test tables (see TESTDATA.md): TPC-H-ish
dimensions and facts, an `events` stream table, a `documents` corpus
with planted near-duplicates and unit-norm `embeddings`. Everything is
drawn from one numpy generator, so a seed fixes every byte.

Usage: python3 perfbench/gen_tables.py <out_dir> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
TABLES_SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def sizes(sf=SF):
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": 5000, "embeddings": 2000}


def _days(base, offsets):
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed=TABLES_SEED, sf=SF):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, o)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, li))})
    e = n["events"]
    gaps_us = rng.exponential(25.9e6, e).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, d)]
    # 5% of documents are near-duplicates: an earlier document plus a marker
    for i in sorted(rng.choice(np.arange(1, d), d // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    return out


def write(out_dir, seed=TABLES_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=len(t) or 1)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else TABLES_SEED)
