#!/usr/bin/env python3
"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the query library reads (`<dir>/<table>.parquet`,
one file each) with the schemas and value domains of the project's
TPC-H-ish test corpus: a star schema (region, nation, customer, supplier,
part, orders, lineitem) plus an `events` stream, a `documents` text table
and an `embeddings` vector table.

Values are drawn from numpy's PCG64 generator, so one seed always yields
the same bytes. The benchmark uses one fixed corpus seed (CORPUS_SEED);
the workload seed varies op order and the synthetic ML and table inputs
instead, so expected query results can be recorded once.

Usage: python3 perfbench/gen_corpus.py <outDir> [scale=0.01] [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20261017

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64
US_PER_DAY = 86_400_000_000


def money(rng, lo, hi, n):
    """Two-decimal amounts, exactly representable as the nearest double of
    their decimal string (the corpus contract the exact-sum kernels use)."""
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n)
    return np.round(cents / 100.0, 2)


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_col(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def generate(out, scale=0.01, seed=CORPUS_SEED):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = 500
    n_vecs = 500
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    d0, d1 = days_since_epoch(1995, 1, 1), days_since_epoch(2001, 12, 31)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(rng.integers(d0, d1 - 150, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts_col(rng.integers(d0, d1, n_line) * US_PER_DAY)})

    # events: a 30-day stream with exponential inter-arrival gaps, ids in
    # arrival order, exponential values with two decimals (min 0.01)
    t0 = days_since_epoch(2024, 1, 1) * US_PER_DAY
    gaps = rng.exponential(30 * US_PER_DAY / n_events, n_events)
    ts = t0 + np.cumsum(gaps).astype(np.int64)
    vals = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": vals,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # documents: random word salad over a small vocabulary; about one in
    # twenty ends with one or two "dup" markers, and one in ten is a near
    # copy of an earlier document (so the dedup operators find clusters)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
            if rng.random() < 0.05:
                words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors, each a weak pull toward its label's centre
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(size=(n_vecs, EMB_DIM)) + 0.15 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, tbl in tables.items():
        pq.write_table(tbl, f"{out}/{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1],
             float(sys.argv[2]) if len(sys.argv) > 2 else 0.01,
             int(sys.argv[3]) if len(sys.argv) > 3 else CORPUS_SEED)
