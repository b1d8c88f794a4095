#!/usr/bin/env python3
"""Write the registry workload's tables: the ten tables the
`SparkEntry.queries` operators read, with the schemas, value families
and categorical sets of the repo's committed test data, at about the
row counts of sf0.001.

The seed is fixed, so every run of the benchmark reads the same data;
the run's own seed only permutes query order. The benchmark keeps its
own generator so that changes to the repo's dev tools never move its
inputs.

Usage: gen_tables.py <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["batch", "data", "key", "table", "scan", "merge", "part", "window",
         "join", "slow", "agg", "order", "column", "a", "vector", "sort",
         "hash", "dup", "filter", "value", "big", "small", "group", "line",
         "stream", "query", "row", "the", "fast", "spark", "customer"]
DAY_US = 86_400_000_000
N_CUST, N_SUPP, N_PART, N_ORD, N_LI, N_EV, N_DOC, N_VEC = (
    150, 10, 200, 1500, 6000, 1000, 500, 500)


def cents(rng, lo, hi, n):
    """Doubles quantized to whole cents, like every money column."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def pick(rng, values, n):
    return [values[i] for i in rng.integers(0, len(values), n)]


def tables(rng):
    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": cents(rng, -900, 9950, N_CUST),
        "c_mktsegment": pick(rng, SEGMENTS, N_CUST)}
    yield "supplier", {
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": cents(rng, -900, 9950, N_SUPP)}
    yield "part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJS, N_PART),
                                              pick(rng, NOUNS, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, N_PART)],
        "p_type": pick(rng, PTYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2)}
    day0 = np.datetime64("1995-01-01")
    yield "orders", {
        "o_orderkey": pa.array(range(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], N_ORD),
        "o_totalprice": cents(rng, 1000, 500000, N_ORD),
        "o_orderdate": pa.array((day0 + rng.integers(0, 2405, N_ORD))
                                .astype("datetime64[us]")),
        "o_orderpriority": pick(rng, PRIORITIES, N_ORD)}
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LI), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LI), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LI), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LI), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LI).astype(np.float64),
        "l_extendedprice": cents(rng, 1000, 100000, N_LI),
        "l_discount": np.round(rng.integers(0, 11, N_LI) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LI) / 100.0, 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], N_LI),
        "l_linestatus": pick(rng, ["F", "O"], N_LI),
        "l_shipdate": pa.array((day0 + rng.integers(1, 2500, N_LI))
                               .astype("datetime64[us]"))}
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    yield "events", {
        "event_id": pa.array(range(N_EV), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, N_EV)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, N_EV), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, N_EV),
        "value": cents(rng, 0, 330, N_EV),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EV)]}
    texts = [" ".join(pick(rng, VOCAB, int(rng.integers(8, 100))))
             for _ in range(N_DOC)]
    yield "documents", {
        "doc_id": pa.array(range(N_DOC), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, N_DOC),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    emb = (rng.random((N_VEC, 64), dtype=np.float64) - 0.5) * 0.5
    yield "embeddings", {
        "vec_id": pa.array(range(N_VEC), pa.int64()),
        "embedding": pa.array([r.astype(np.float32) for r in emb],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VEC), pa.int32())}


def main():
    out = sys.argv[1]
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(np.random.default_rng(SEED)):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
