"""Seeded input generator for the benchmark.

Writes the ten tables the engine's gates read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and types of the engine's
TPC-H-style test data. The same seed and sizes give byte-identical files;
another seed changes every table's content.

The document corpus plants near-duplicates at a fixed rate: a share of
the documents copies an earlier document and substitutes a few words,
and a smaller share copies one verbatim, so dedup cost depends on the
planted rate, not on chance overlap.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "red", "small", "large", "new", "old"]
P_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
DIM = 64
N_LABELS = 10

EPOCH = datetime.datetime(1970, 1, 1)
ORDER_DAY0 = (datetime.datetime(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (datetime.datetime(2001, 8, 1) - datetime.datetime(1995, 1, 1)).days
EVENT_US0 = int((datetime.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _cents(rng, lo, hi, n):
    """Money as whole cents / 100, the test data's two-decimal doubles."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _tables(rng, sizes, near_dup_rate, exact_dup_rate):
    n_cust, n_orders = sizes["customer"], sizes["orders"]
    n_part, n_supp = sizes["part"], sizes["supplier"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99999, 999999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99999, 999999, n_supp)})
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90000 + np.arange(n_part) % 1000 * 10) / 100.0})
    odays = ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 100191, 49999318, n_orders),
        "o_orderdate": pa.array(odays.astype("int64") * 86400 * 1_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(rng, 90068, 10499991, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("int64") * 86400 * 1_000_000,
                               pa.timestamp("us"))})
    n_ev = sizes["events"]
    ts = np.sort(EVENT_US0 + rng.integers(0, EVENT_SPAN_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0, 56021, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, sizes["documents"], near_dup_rate,
                                  exact_dup_rate)
    out["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return out


def _documents(rng, n, near_dup_rate, exact_dup_rate):
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 0 and u < exact_dup_rate:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and u < exact_dup_rate + near_dup_rate:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 20),
                                replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 101))
            texts.append(" ".join(VOCAB[k] for k in
                                  rng.integers(0, len(VOCAB), n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centers[labels] + rng.normal(0.0, 1.5, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(out_dir, seed, sizes, near_dup_rate=0.0, exact_dup_rate=0.0):
    """Write every table under `out_dir`; returns the total bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(rng, sizes, near_dup_rate, exact_dup_rate).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
