"""Seeded tables for the ``query_mix`` workload.

The registered queries read one parquet file per table from a directory
(``sources.catalog.load_table``). This module writes that directory with the
column names, types and value domains of the TPC-H-like test data the
queries were written against: region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings. ``scale`` plays the role
of the TPC-H scale factor (lineitem has about ``6e6 * scale`` rows).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "de", "es", "zh"]
_LANG_P = [0.44, 0.13, 0.14, 0.14, 0.15]
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window column stream query join group order filter small big "
    "data vector customer"
).split()


def _days(rng, n, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = max(50, int(50_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(
                [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, size=(n_part, 2)).tolist()
                ],
                s,
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 999.9, n_part), 1), f64),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
            "o_orderdate": pa.array(
                _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), ts
            ),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(20, 2100, n_line), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
            "l_shipdate": pa.array(
                _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), ts
            ),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(rng.integers(0, month_us, n_events)).astype("timedelta64[us]"),
                ts,
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
        }
    )
    texts = []
    for i, n_words in enumerate(rng.integers(8, 100, n_docs).tolist()):
        if i >= 10 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near-duplicate
        else:
            texts.append(" ".join(rng.choice(_WORDS, n_words).tolist()))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(directory: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<directory>/<name>.parquet`` (one row group,
    like the original test data); return the row count of each."""
    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name, table in _tables(np.random.default_rng(seed), scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"), row_group_size=1 << 30)
        rows[name] = table.num_rows
    return rows
