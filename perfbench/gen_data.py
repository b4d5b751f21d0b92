"""Deterministic synthetic tables for the benchmark (sf0.1 shapes).

Usage: python3 perfbench/gen_data.py <out_dir>

Writes the ten single-row-group parquet tables the engine's `Tables`
facade reads (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) with the row counts, schemas and value
distributions of the engine's sf0.1 test tables. The tables are a pure
function of TABLE_SEED, so every run of every workload reads the same
bytes; the benchmark's --seed only orders the queries.
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VERSION = "v1"  # bump when the generated contents change

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_NEARDUP, N_EXACTDUP = 5_000, 250, 8
N_EMB, EMB_DIM, N_LABELS = 2_000, 64, 10

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed=TABLE_SEED):
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS)})
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = N_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n))
    # microsecond TIMESTAMP without time zone (parquet isAdjustedToUTC =
    # false), the spelling of the current test-data generation; an older
    # one stored TIMESTAMP(NANOS), which Tables.normalizeTs also reads
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng):
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(N_DOCS)]
    # near-duplicates: a copy of another document plus one marker token;
    # exact duplicates: a verbatim copy of another document
    ids = rng.permutation(N_DOCS)
    near, exact = ids[:N_NEARDUP], ids[N_NEARDUP:N_NEARDUP + N_EXACTDUP]
    src = rng.permutation(ids[N_NEARDUP + N_EXACTDUP:])
    for i, d in enumerate(near):
        texts[d] = texts[src[i]] + " dup"
    for i, d in enumerate(exact):
        texts[d] = texts[src[N_NEARDUP + i]]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng):
    labels = rng.integers(0, N_LABELS, N_EMB)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    v = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM)) + 0.5 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())})


def write(out_dir):
    """Generates every table into out_dir (atomically: a finished dir
    holds a DONE marker) and returns out_dir."""
    if os.path.exists(os.path.join(out_dir, "DONE")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=t.num_rows or 1)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1])
