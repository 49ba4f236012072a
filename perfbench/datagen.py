"""Deterministic generator for the analytics tables.

Writes the ten tables the registered queries read (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) as one
single-row-group parquet file each, with the column names and physical
types of the project's test data. Row counts follow TPC-H scaling at
``SF``; the content depends only on the fixed ``DATA_SEED``, so every
run of the benchmark reads the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
DATA_SEED = 20240101
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
WORDS = (
    "a the data table query spark stream join hash row batch scan column "
    "customer filter small slow merge order vector line agg value key window "
    "part group big sort fast"
).split()
EMBED_DIM = 64


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), max(10, int(10_000 * SF)), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_users = int(1_000_000 * SF), max(10, int(15_000 * SF))
    n_doc, n_vec = int(50_000 * SF), max(50, int(50_000 * SF))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.sort(start + rng.choice(span_us, n_ev, replace=False)).astype(
                "datetime64[us]"
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(10, 100))))
    # exact copies and one-word edits, so the dedup operators find work
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        src = texts[int(rng.integers(0, n_doc))]
        if rng.random() < 0.5:
            texts[i] = src
        else:
            words = src.split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.normal(size=(n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def write_tables(directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(
            table, os.path.join(directory, f"{name}.parquet"), row_group_size=len(table)
        )
