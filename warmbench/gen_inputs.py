#!/usr/bin/env python3
"""Seeded input generator for the warm-pass benchmark.

Usage: python3 gen_inputs.py --seed N --out DIR

Writes the ten tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) under DIR,
one `<table>.parquet` file each, with the same schema and parquet physical
types as the engine's reference test data. Tables stay single files
because the streaming calls stage `events.parquet` and `documents.parquet`
into their file-stream landing as files.

The table contents follow the reference data's shape at TPC-H scale
factor 0.01, documents and embeddings at 0.03, and come from a fixed
content seed, so every workload seed runs the same rows. The workload seed
permutes each table's row order and splits it into 1 to 4 row groups at
seeded cut points, which exercises layout
independence: a result that depends on input order or split shows up as a
failed output check. The seed, scale and layout are recorded in
DIR/_inputs.json.
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
SCALE = 0.01
# documents and embeddings, the curation calls' inputs, at a scale of their
# own: large enough for their kernels to be a real share of a pass, small
# enough for a run to take about a minute
TEXT_SCALE = 0.03
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "green", "large", "steel", "brass",
              "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "spring", "valve", "panel", "cog"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def days(start, end, n, rng):
    """n uniform midnight timestamps in [start, end] as timestamp[us]."""
    span = (end - start).days
    d = np.datetime64(start, "us") + \
        rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(10, int(150_000 * SCALE))
    n_supp = max(10, int(10_000 * SCALE))
    n_part = max(10, int(200_000 * SCALE))
    n_ord = max(10, int(1_500_000 * SCALE))
    n_line = max(10, int(6_000_000 * SCALE))
    n_evt = max(10, int(1_000_000 * SCALE))
    n_user = max(10, int(15_000 * SCALE))
    n_doc = max(20, int(50_000 * TEXT_SCALE))
    n_emb = max(20, int(50_000 * TEXT_SCALE))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-1000, 10000, n_cust, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-1000, 10000, n_supp, rng)})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord, rng),
        "o_orderdate": days(dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                            n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                           n_line, rng)})
    # events arrive in event_id order over 30 days of January 2024
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        offs.astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: 10-100 words of a 30-word vocabulary; about one in twenty
    # is a near-duplicate, another document's text with " dup" appended
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    # embeddings: random unit vectors in 64 dimensions, labels 0-9
    v = rng.normal(size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    layout = {}
    for name, tb in tables().items():
        n = tb.num_rows
        tb = tb.take(pa.array(rng.permutation(n)))
        k = int(min(n, rng.integers(1, 5)))
        cuts = np.sort(rng.choice(np.arange(1, n), k - 1, replace=False))
        bounds = [0, *cuts.tolist(), n]
        with pq.ParquetWriter(os.path.join(out, f"{name}.parquet"),
                              tb.schema) as w:
            for i in range(k):
                w.write_table(tb.slice(bounds[i], bounds[i + 1] - bounds[i]))
        layout[name] = {"rows": n, "row_groups": bounds}
    with open(os.path.join(out, "_inputs.json"), "w") as f:
        json.dump({"seed": seed, "content_seed": CONTENT_SEED,
                   "scale": SCALE, "text_scale": TEXT_SCALE,
                   "tables": layout}, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.out)


if __name__ == "__main__":
    main()
