"""Deterministic synthetic tables for the query workload.

Writes the ten parquet tables the registered queries read (the schemas of
TESTDATA.md: a TPC-H-like star plus `events`, `documents` and
`embeddings`) at a scale factor `sf`, where sf=1 is 6M lineitem rows.
Values are uniform draws shaped like the engine's reference fixtures:
plain-word documents from a 31-word vocabulary with a few exact and near
duplicates, unit-norm 64-d embeddings with ten labels, events spread over
January 2024 with `{"k": n}` props.

The data is a pure function of (sf, seed), so every run and both sides of
a comparison read identical tables.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer index").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PNOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "valve", "wheel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, n, start, ndays):
    base = np.datetime64(start, "us").astype(np.int64)
    return _ts(base + rng.integers(0, ndays, n) * DAY_US)


def _round(x, d=2):
    return np.round(x, d)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _round(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _round(rng.uniform(-999.99, 9999.99, n_supp))})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PADJ, n_part),
                                             rng.choice(PNOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _round(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _round(rng.uniform(900.0, 105_000.0, n_line)),
        "l_discount": _round(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": _round(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n_events // 67), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _round(rng.exponential(50.0, n_events)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.02:  # near duplicate: one word replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return out


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
