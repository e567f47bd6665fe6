"""Deterministic synthetic analytics tables, written as parquet.

Same table names, column names and types as the TPC-H-ish star schema
plus ``documents`` / ``embeddings`` / ``events`` that the query
registry in ``__spark_entry__.py`` reads. Row counts follow the usual
scale factor (``lineitem`` = 6M x sf). Content is drawn from a fixed
numpy seed, so every run on every host reads identical inputs and the
checked-in query digests stay valid; the workload seed only orders the
operations.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    n_days = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, n_days + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents, 10-100 words each. 5% are near-duplicates
    (an earlier document plus a trailing token) and a few are exact
    copies, so the dedup family has work to find."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(DOC_WORDS), int(lens.sum()))
    vocab = np.array(DOC_WORDS)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    n_near = n // 20
    for i in rng.choice(np.arange(n // 2, n), n_near, replace=False):
        text[i] = text[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), max(1, n // 600), replace=False):
        text[i] = text[int(rng.integers(0, n // 2))]
    n_src = max(1, n // 250)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % n_src}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def events(rng, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(kinds, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(segments, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(np.char.add(
                rng.choice(adj, n_part), " "), rng.choice(noun, n_part))),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(
                1, 26, n_part).astype(str))),
            "p_type": pa.array(rng.choice(ptypes, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(
                900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": pa.array(rng.choice(prio, n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        }),
        "documents": documents(rng, int(50_000 * sf)),
        "embeddings": embeddings(rng, int(20_000 * sf)),
        "events": events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
    }


def write(sf: float, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
