#!/usr/bin/env python3
"""Synthetic input tables for the benchmark, in graft's 10-table contract.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one single-row-group parquet file each, with
the column types `graft.Preflight` checks. Values are uniform draws over
the same domains as the sf0.001..sf0.1 testdata graft is developed
against: a TPC-H-like star schema on an exact cent grid, an events stream
over 30 days, a bag-of-words corpus with ~5% planted near-duplicates, and
64-dim unit embeddings clustered by label.

The data seed is fixed: the same scale factor always gives the same
bytes, so result hashes recorded once stay valid. (The workload seed
only orders ops; it never changes the tables.)

Usage: datagen.py <out_dir> <scale_factor>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US = 1_000_000
DAY_US = 86_400 * US


def epoch_us(y, m, d):
    return int((datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1)).total_seconds()) * US


def rng(table):
    # one independent stream per table: adding a column to one table
    # never shifts another table's values
    return np.random.default_rng([DATA_SEED, sum(map(ord, table))])


def cents(r, lo, hi, n):
    return r.integers(lo, hi + 1, n) / 100.0


def day_ts(r, first, last, n):
    days = r.integers(0, (last - first) // DAY_US + 1, n)
    return pa.array(first + days * DAY_US, pa.timestamp("us"))


def pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)], pa.string())


def tables(sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(r, -99_999, 999_999, n_cust),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})

    r = rng("supplier")
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(r, -99_999, 999_999, n_supp)})

    r = rng("part")
    adj, noun = r.integers(0, len(P_ADJ), n_part), r.integers(0, len(P_NOUN), n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pick(r, P_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0})

    r = rng("orders")
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": cents(r, 100_000, 50_000_000, n_ord),
        "o_orderdate": day_ts(r, epoch_us(1995, 1, 1), epoch_us(2001, 8, 1), n_ord),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})

    r = rng("lineitem")
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(r, 90_000, 10_500_000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": day_ts(r, epoch_us(1995, 1, 2), epoch_us(2001, 11, 4), n_line)})

    r = rng("events")
    start = epoch_us(2024, 1, 1)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(start + r.integers(0, 30 * DAY_US, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    r = rng("documents")
    texts = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB), r.integers(10, 101))]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(r, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng("embeddings")
    centroids = r.normal(size=(10, 64))
    labels = r.integers(0, 10, n_vecs)
    v = centroids[labels] * 0.35 + r.normal(size=(n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(float(sf)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
