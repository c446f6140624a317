"""The benchmark's input tables: the repository's sf-scaled test data, regenerated.

Writes the ten tables the query surface reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each: a TPC-H-like star schema, a month of click events
(`events.ts` drawn at nanosecond resolution and stored as TIMESTAMP(MICROS),
truncated), a word corpus with 5% near-duplicate documents, and unit 64-d
embeddings. Every table is drawn from one numpy generator seeded with 42,
in the order the test data was drawn, so at sf0.1 and sf0.01 the tables
equal the test data's row for row and value for value; --compare checks that
against a directory of the test data.

Usage: python3 perfbench/datagen.py <out_dir> [sf]
       python3 perfbench/datagen.py --compare <test_data_dir> [sf]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EPOCH = datetime.datetime(1970, 1, 1)
DATA_SEED = 42


def _day_range(rng, n, first, last):
    """n random midnights in [first, last] as epoch microseconds."""
    lo = (first - EPOCH).days
    hi = (last - EPOCH).days
    return rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)])


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_doc = max(1, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    ts_us = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.asarray(ADJECTIVES, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, 8, n_part)]
    pkeys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pkeys, i64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_day_range(rng, n_ord, datetime.datetime(1995, 1, 1),
                                           datetime.datetime(2001, 8, 1)), ts_us),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(_day_range(rng, n_line, datetime.datetime(1995, 1, 2),
                                          datetime.datetime(2001, 11, 4)), ts_us)})
    start = (datetime.datetime(2024, 1, 1) - EPOCH) // datetime.timedelta(microseconds=1)
    # nanosecond offsets into the month, truncated to microseconds
    offsets = (rng.uniform(0, 30 * 86_400, n_ev) * 1e9).astype(np.int64) // 1000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(start + offsets), ts_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% of documents are near-duplicates: a copy of another document
    # with one extra word, so the dedup operators have real work to find.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def compare(ref_dir, sf):
    """Names of the generated tables that differ from the test data in ref_dir."""
    differ = []
    for name, gen in tables(sf).items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        same = ref.equals(gen)
        cols = [] if same or ref.schema != gen.schema else \
            [c for c in ref.column_names if not ref[c].equals(gen[c])]
        print(f"{name}: {ref.num_rows} rows, "
              + ("equal" if same else f"differs (columns: {', '.join(cols) or 'schema'})"))
        if not same:
            differ.append(name)
    return differ


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        sys.exit(1 if compare(sys.argv[2], float(sys.argv[3]) if len(sys.argv) > 3 else 0.1) else 0)
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
