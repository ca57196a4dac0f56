"""Synthetic corpus for the benchmark, in the layout the engine reads:
one flat parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) under one directory.

Table CONTENT is fixed: it is drawn from a constant content seed and a
scale, never from the run seed, so every run's expected results are the
same. The run seed only permutes the row order of each file (and thus
the order every scan sees). The shapes follow the engine's corpus
contract (FIXTURES.md / TESTDATA.md): TPC-H-like star schema, a 30-day
`events` stream, a 30-word-vocabulary `documents` table with exact and
near duplicates, and unit-norm float32[64] `embeddings`.

Usage: python3 perfbench/gen_corpus.py <out_dir> <scale> <seed>
(scale 1.0 = the sf0.1 row counts: 600k lineitem, 100k events)."""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _days(lo: str, hi: str, n: int, rng) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + off).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: float) -> dict:
    """Every table as a pyarrow Table, deterministic in `scale`."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(15000 * scale), max(10, int(1000 * scale))
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    n_line, n_ev = int(600000 * scale), int(100000 * scale)
    n_doc = max(200, int(5000 * scale))
    n_vec = max(600, int(2000 * scale))
    n_users = max(50, int(1500 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.char.add(np.char.add(
        np.array(PADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PNOUN)[rng.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, k)]))
    # near duplicates: one word replaced and " dup" appended (5%), and
    # a handful of exact copies, so the dedup keys have real matches
    for i in range(0, n_doc, 20):
        src = texts[(i * 7 + 3) % n_doc].split(" ")
        src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, 30))]
        texts[i + 11 if i + 11 < n_doc else i] = " ".join(src) + " dup"
    for j in range(max(2, n_doc // 600)):
        a, b = int(rng.integers(0, n_doc)), int(rng.integers(0, n_doc))
        texts[b] = texts[a]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.normal(size=(n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def write(out: str, scale: float, seed: int) -> int:
    """Write every table with rows permuted by `seed`; returns the input
    parquet bytes."""
    os.makedirs(out, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    total = 0
    for name, tab in tables(scale).items():
        tab = tab.take(perm_rng.permutation(tab.num_rows))
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tab, path, compression="snappy",
                       row_group_size=max(tab.num_rows, 1))
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
