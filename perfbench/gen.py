"""Seeded generator of the engine's ten input tables (FIXTURES.md shapes).

Writes one parquet file per table with the physical types the engine's
loaders and the DuckDB oracles expect (pyarrow, timestamp[us] without a
zone), at the sf0.001 row counts; `docs` sets the documents/embeddings
size independently, because the ingest door's corpus is sized on its own.
The same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
US = pa.timestamp("us")
DAY_US = 86_400_000_000


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """Word-soup texts over a 31-word vocabulary; about 5% are earlier
    documents with one to three ' dup' suffixes (near duplicates)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split(" dup")[0]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def tables(seed, docs=500):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate, type=US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    l_ord = rng.integers(0, n_ord, n_li)
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
        "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 95, n_li) * DAY_US,
                               type=US)})
    e0 = _epoch_us(2024, 1, 1)
    ts = e0 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=US),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev)
                            .astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = documents(rng, docs)
    t["embeddings"] = embeddings(rng, docs)
    return t


def write(out_dir, seed, docs=500, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, docs).items():
        if only is None or name in only:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
