"""Seeded synthetic tables for the query suite, in the layout the
registered queries read: a TPC-H-shaped star schema plus the `events`,
`documents` and `embeddings` tables, one parquet file each.

Row counts follow scale factor 0.1 (600k lineitem rows). Values are
drawn independently and uniformly unless noted, so every query's filters
and joins select a predictable share of rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    # events: one month of arrivals with exponential gaps, skewed values
    gaps = rng.exponential(26.0, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n_ev)]})
    # documents: random word bags; 5% near-duplicates of an earlier
    # document with one word swapped for "dup", a few exact copies
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[np.minimum(rng.integers(0, 7, n_doc) - 2, 4).clip(0)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # embeddings: unit vectors around ten label centroids
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.3 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def write(directory: str, seed: int, sf: float = 0.1) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
