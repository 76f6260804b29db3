"""Seeded star-schema tables for the query workload.

The registry queries read ``<sf_dir>/<table>.parquet`` with the columns
and value ranges of the engine's TPC-H-like test tables plus
``events``, ``documents`` and ``embeddings``. This module writes such a
directory from a seed, so the benchmark needs no data it did not make.
Row counts follow the scale factor the same way (sf 0.01: 1,500
customers, 500 documents, 200 embeddings). Documents carry planted
exact and near duplicates so the dedup queries find pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast the row agg key query a scan batch dup"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "bright"]
_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    # 1% exact copies and 2% one-word edits of earlier documents
    for i in range(1, n):
        r = rng.random()
        if r < 0.01:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.03:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(_WORDS))
            texts[i] = " ".join(words)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels,
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(int(50_000 * sf), 50), max(int(20_000 * sf), 50)
    orderkeys = rng.integers(0, n_orders, n_line)
    part_idx = np.arange(n_part)
    events_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400 * 1_000_000, n_events).astype("timedelta64[us]")
    )
    return {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": part_idx.astype(np.int64),
                "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part_idx % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
                "o_totalprice": _money(rng, n_orders, 900.0, 500_000.0),
                "o_orderdate": _days(rng, n_orders, "1995-01-01", 2404),
                "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": orderkeys.astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 100_000.0),
                "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
                "l_returnflag": rng.choice(["N", "R", "A"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": events_ts,
                "user_id": rng.integers(0, max(n_events // 66, 1), n_events).astype(np.int64),
                "event_type": rng.choice(_EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, sf).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))
