"""Seeded synthetic tables for the query workload.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as parquet files into one directory,
with the column names, types and value ranges the engine's declared
queries read. `scale` 1.0 is about 6M lineitem rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big customer query "
         "order group filter stream vector").split()
PART_WORDS = "small red blue hot old green big widget ring bolt gear gizmo anvil".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate(out, scale, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = max(50, int(50_000 * scale)), max(50, int(50_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[:7], n_part),
                                                      rng.choice(PART_WORDS[7:], n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2498), ts)})
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // max(1, n_ev), n_ev)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_ev), s),
        "value": pa.array(np.round(rng.uniform(0.01, 490, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 90))) for _ in range(n_doc)]
    # one document in twenty repeats an earlier one with " dup" appended,
    # so the dedup and graph queries have near-duplicate pairs to find
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                                    p=[0.5, 0.15, 0.13, 0.11, 0.11]), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = (rng.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
