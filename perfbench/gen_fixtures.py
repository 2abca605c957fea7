#!/usr/bin/env python3
"""Writes the benchmark's fixture tables as parquet.

Usage: python3 perfbench/gen_fixtures.py <out_dir> <scale>

The ten tables have the column names, types and value distributions of the
engine's standard fixtures (TPC-H-ish star schema plus `events`,
`documents` and `embeddings`); `scale` plays the role of the TPC-H scale
factor (lineitem has 6,000,000 x scale rows). The data depends only on
`scale`, never on the benchmark's `--seed`: the seed orders the ops and
shapes the schema-lint catalog, and the expected output digests in
`expected.json` stay valid for every seed.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def days_to_ts(base_day, days):
    """Timestamp[us] column: `base_day` (days since epoch) + `days`."""
    return pa.array((base_day + days).astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, scale):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                   "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})

    day_1995 = 9131  # 1995-01-01
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": days_to_ts(day_1995, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": days_to_ts(day_1995 + 1, rng.integers(0, 2498, n_line))})

    ts0 = 19723 * US_PER_DAY  # 2024-01-01
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + ts0,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, int(15_000 * scale)), n_ev, dtype=np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for _ in range(n_doc):
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    for i in range(0, n_doc - 1, max(2, n_doc // 8)):  # a few exact duplicates
        texts[int(rng.integers(0, n_doc))] = texts[i]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_doc)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
