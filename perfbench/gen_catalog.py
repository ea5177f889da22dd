"""Seeded inputs for the ``catalog`` workload.

The catalog reads ten parquet tables (TPC-H-shaped customer/orders/lineitem/
part/supplier/nation/region plus documents/embeddings/events).  This module
synthesizes them from a seed with the same schemas, physical types and value
distributions as the repository's test data, so the benchmark needs nothing
outside its checkout:

  * every entity key is shifted by a seeded multiple of 1000 (which keeps the
    queries' ``% 2`` / ``% 10`` samples and doc-id windows meaningful), except
    ``vec_id``: q37/q39 probe ``vec_id < 5``;
  * rows of every table are permuted by the seed;
  * 5% of documents are near-duplicates (an earlier text plus one token) and
    a few are exact duplicates, so the dedup/similarity queries find pairs.

Everything here is numpy/pyarrow: no JVM runs during generation.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "small", "red", "new", "cold"]
P_NOUN = ["ring", "bolt", "plate", "gear", "pipe", "nut", "wire", "screw"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64

TS = pa.timestamp("us")
DAY_US = 86_400 * 10**6


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _write(out: str, table: str, cols: dict, schema: pa.Schema,
           perm: np.random.Generator | None) -> None:
    t = pa.table(cols, schema=schema)
    if perm is not None:
        t = t.take(pa.array(perm.permutation(t.num_rows)))
    pq.write_table(t, os.path.join(out, f"{table}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo, hi = _epoch_us(start) // DAY_US, _epoch_us(end) // DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, TS)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # near-duplicates: an earlier text plus one token; exact duplicates: a copy
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return texts


def generate(out: str, seed: int, sf: float, n_docs: int, n_vecs: int,
             n_events: int) -> dict:
    """Write the ten catalog tables under ``out``; returns the row counts.

    ``sf`` scales the TPC-H-shaped tables (sf=0.01 → 60k lineitem rows);
    documents, embeddings and events are sized separately, as in the
    repository's test data."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    perm = np.random.default_rng(seed + 1)
    off = int(rng.integers(1, 1000)) * 1000
    n_cust = max(50, int(150_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2000, int(6_000_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_users = max(50, n_events // 66)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]), None)
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
        None)
    ck = np.arange(n_cust)
    _write(out, "customer", {
        "c_custkey": ck + off,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]), perm)
    sk = np.arange(n_supp)
    _write(out, "supplier", {
        "s_suppkey": sk + off,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]), perm)
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pk + off,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]),
        perm)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord) + off,
        "o_custkey": rng.integers(0, n_cust, n_ord) + off,
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                  ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", TS), ("o_orderpriority", s)]), perm)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li) + off,
        "l_partkey": rng.integers(0, n_part, n_li) + off,
        "l_suppkey": rng.integers(0, n_supp, n_li) + off,
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64),
                  ("l_extendedprice", f64), ("l_discount", f64),
                  ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                  ("l_shipdate", TS)]), perm)
    texts = _texts(rng, n_docs)
    dk = np.arange(n_docs)
    _write(out, "documents", {
        "doc_id": dk + off,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                  ("n_chars", i64)]), perm)
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]), perm)
    start = _epoch_us("2024-01-01")
    _write(out, "events", {
        "event_id": np.arange(n_events) + off,
        "ts": pa.array(np.sort(rng.integers(start, start + 30 * DAY_US,
                                            n_events)), TS),
        "user_id": rng.integers(0, n_users, n_events) + off,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", i64), ("ts", TS), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]), perm)
    return {"key_offset": off, "customer": n_cust, "orders": n_ord,
            "lineitem": n_li, "part": n_part, "supplier": n_supp,
            "documents": n_docs, "embeddings": n_vecs, "events": n_events}

