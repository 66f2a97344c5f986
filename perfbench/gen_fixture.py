#!/usr/bin/env python3
"""Seeded generator of the query_tail fixture: the engine's TPC-H-ish tables
plus `documents` and `embeddings` (and an empty `events`, which no
query_tail query reads), one parquet file per table, in the same schema as
the test fixtures (see FIXTURES.md section 2).

The TPC-H-ish tables are at scale factor SF (60K lineitem rows); DOCS and
VECTORS size the document corpus and the embedding table. Documents are
bags of words from a small vocabulary, a tenth of them near-copies of an
earlier document, so the dedup, BM25 and clustering queries all have work.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "shiny",
       "dull", "heavy", "light", "smooth", "rough"]
NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
VOCAB = ["a", "the", "batch", "part", "spark", "line", "column", "order",
         "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
         "agg", "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "join", "customer", "vector"]
DAY_US = 86400 * 1_000_000
EPOCH_1995 = 788918400 * 1_000_000  # 1995-01-01T00:00:00Z in micros
SF, DOCS, VECTORS = 0.01, 500, 500


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed):
    rng = np.random.default_rng(seed % 2**64)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})

    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    n_li = len(okey)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 121, n_li) * DAY_US,
                               type=pa.timestamp("us"))})

    weights = 1.0 / np.arange(1, len(VOCAB) + 1)
    weights /= weights.sum()
    texts = []
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(rng.choice(VOCAB, rng.integers(8, 101), p=weights))
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], DOCS),
        "source": [f"src{i}" for i in rng.integers(0, 20, DOCS)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})

    labels = rng.integers(0, 10, VECTORS)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (VECTORS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})

    pq.write_table(pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())]).empty_table(),
        os.path.join(out, "events.parquet"))
