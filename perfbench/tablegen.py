"""Seeded generator for the registry queries' input tables.

Writes the ten tables the registry reads (TPC-H-shaped star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each, with
the column names and types of the project's reference test data. ``scale``
follows TPC-H: 0.01 gives 60k lineitem rows. The documents table is half the
reference's size for a scale, because the DuckDB oracles of the
near-duplicate queries compare all document pairs. perfbench/README.md
compares per-query row counts and build-job counts with the reference.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
P_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
NOUNS = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table under out_dir; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), int(15_000 * scale)
    n_doc, n_emb = int(25_000 * scale), max(int(20_000 * scale), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 101, n_doc)
    ]
    # 5% near-duplicates: another document's text with a trailing marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
