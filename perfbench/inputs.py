"""Seeded input tables for the query workloads.

Writes the four tables the benchmarked ``queries()`` entries read
(``events``, ``orders``, ``lineitem``, ``documents``), one parquet file each,
with the schema and value distributions of the engine's reference test data:

* ``events``: ``1_000_000 * sf`` rows, strictly increasing microsecond
  timestamps over January 2024, ``15_000 * sf`` users, five event types,
  exponential values (mean 50) rounded to cents, ``{"k": n}`` props;
* ``orders`` / ``lineitem``: TPC-H-shaped, ``1_500_000 * sf`` and
  ``6_000_000 * sf`` rows, dates as midnight timestamps;
* ``documents``: ``max(500, 50_000 * sf)`` docs of 10-99 words from a
  30-word vocabulary; exactly 5% of them, at random positions, are a copy
  of an earlier doc plus ``" dup"``.

Timestamps are written without a time zone, so Spark reads them as
TIMESTAMP_NTZ, as it does the reference data. The same seed and scale factor
give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUSES = np.array(["F", "O"])
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
DUP_SHARE = 0.05


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def events(rng, sf: float) -> pd.DataFrame:
    n = int(1_000_000 * sf)
    span_us = 30 * 86_400 * 1_000_000
    # distinct sorted offsets: strictly increasing ts, as in the reference
    ts = np.sort(rng.choice(span_us, size=n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def orders(rng, sf: float) -> pd.DataFrame:
    n = int(1_500_000 * sf)
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, int(150_000 * sf)), n),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", 2403),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def lineitem(rng, sf: float, n_orders: int) -> pd.DataFrame:
    n = int(6_000_000 * sf)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURN_FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": LINE_STATUSES[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, "1995-01-02", 2497),
    })


def documents(rng, sf: float) -> pd.DataFrame:
    n = max(500, int(50_000 * sf))
    dups = set(rng.choice(np.arange(1, n), size=int(n * DUP_SHARE), replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the four tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events(rng, sf)
    od = orders(rng, sf)
    tables = {
        "events": ev,
        "orders": od,
        "lineitem": lineitem(rng, sf, len(od)),
        "documents": documents(rng, sf),
    }
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
