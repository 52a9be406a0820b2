#!/usr/bin/env python3
"""Deterministic benchmark datasets, written as one parquet file per table.

`base(out, sf)` generates the ten tables the engine reads (TPC-H-like star
schema, an event stream, a document corpus with planted near-duplicates and
a labelled embedding corpus) at scale factor `sf`, with the same schemas,
key ranges and value domains as the engine's test fixtures.

`scale_copy(src, out, mult)` builds `mult` disjoint copies of a dataset. It
follows the engine's copy recipe (`graft.tools.SfScale`) but is written
here, so a change to the program cannot change the benchmark's inputs:
entity keys shift by copy * 1e8, region and nation stay shared, copy i > 0
prefixes each document with the token `c<i>` (near-duplicates replicate
within a copy), and embeddings of copy i are rotated by i positions.

Usage: python3 perfbench/gen_data.py OUT_DIR SF [MULT]
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
KEY_SHIFT = 100_000_000
DIMS = 64
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, n, first, last):
    """n random dates in [first, last] as timestamp[us] (midnight)."""
    span = (last - first).days
    start = np.datetime64(first, "us")
    return start + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def base_tables(sf):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt, n_user = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_line = 4 * n_ord
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string())})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n):
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n)]
    # 5% near-duplicates: another document's text plus one token
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def _embeddings(rng, n):
    centers = rng.normal(size=(10, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    v = 0.56 * centers[labels] + rng.normal(size=(n, DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


SHIFTED = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"], "embeddings": ["vec_id"],
}


def _copy(name, table, i):
    cols = {c: table.column(c) for c in table.column_names}
    for k in SHIFTED.get(name, []):
        cols[k] = pa.array(cols[k].to_numpy() + i * KEY_SHIFT, pa.int64())
    if name == "documents" and i > 0:
        texts = [f"c{i} {x}" for x in cols["text"].to_pylist()]
        cols["text"] = pa.array(texts, pa.string())
        cols["n_chars"] = pa.array(np.array([len(x) for x in texts], dtype=np.int64))
    if name == "embeddings" and i % DIMS:
        v = np.stack(cols["embedding"].to_numpy(zero_copy_only=False))
        cols["embedding"] = pa.array(list(np.roll(v, -(i % DIMS), axis=1)), pa.list_(pa.float32()))
    return pa.table(cols, schema=table.schema)


def scale_copy(tables, mult):
    return {name: (t if name not in SHIFTED else
                   pa.concat_tables([_copy(name, t, i) for i in range(mult)]))
            for name, t in tables.items()}


def write(tables, out):
    """Write every table, then a row-count manifest, into a fresh directory."""
    tmp = out + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), compression="snappy",
                       row_group_size=max(1, t.num_rows))
    rows = {name: t.num_rows for name, t in tables.items()}
    with open(os.path.join(tmp, "rows.json"), "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return rows


def build(out, sf, mult=1):
    tables = base_tables(sf)
    if mult > 1:
        tables = scale_copy(tables, mult)
    return write(tables, out)


if __name__ == "__main__":
    print(json.dumps(build(sys.argv[1], float(sys.argv[2]),
                           int(sys.argv[3]) if len(sys.argv) > 3 else 1)))
