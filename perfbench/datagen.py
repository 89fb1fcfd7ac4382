"""Seeded input generation for the benchmark.

Every table is drawn from ``numpy.random.default_rng([seed, table_no])``,
so one seed always yields byte-identical parquet files and the tables are
independent of each other. Schemas, key ranges and value shapes follow the
TPC-H-style fixture tables the query registry is written against
(FIXTURES.md): ``events.ts`` spans January 2024, ship and order dates span
1995-2001, documents draw whitespace tokens from a 31-word vocabulary.

Row counts scale with ``sf`` the way the fixture scale factors do
(lineitem ~6M * sf, events 1M * sf, ...), so ``sf=0.01`` is the size the
DuckDB oracles are checked at.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC, microseconds
DAY_US = 86_400_000_000


def _rng(seed: int, table_no: int) -> np.random.Generator:
    return np.random.default_rng([seed, table_no])


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def documents(seed: int, sf: float) -> pd.DataFrame:
    rng = _rng(seed, 1)
    n = 500 if sf <= 0.01 else int(50_000 * sf)
    words = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    lang = np.where(
        rng.random(n) < 0.44, "en", np.array(LANGS[1:])[rng.integers(0, 4, n)]
    )
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": text,
            "lang": lang,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def embeddings(seed: int, sf: float, dim: int = 64) -> pd.DataFrame:
    rng = _rng(seed, 2)
    n = 500 if sf <= 0.01 else int(20_000 * sf)
    label = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, dim))
    vec = centroids[label] + 0.6 * rng.standard_normal((n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": label,
        }
    )


def events(seed: int, sf: float) -> pd.DataFrame:
    """``event_id`` follows ``ts`` order, as the stream cursor expects."""
    rng = _rng(seed, 3)
    n = int(1_000_000 * sf)
    users = max(150, int(15_000 * sf))
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def orders(seed: int, sf: float) -> pd.DataFrame:
    rng = _rng(seed, 4)
    n = int(1_500_000 * sf)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(1, n // 10), n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n), 2),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n)],
        }
    )


def lineitem(seed: int, sf: float) -> pd.DataFrame:
    rng = _rng(seed, 5)
    n_orders = int(1_500_000 * sf)
    n = 4 * n_orders
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )


TABLES = {
    "documents": documents,
    "embeddings": embeddings,
    "events": events,
    "orders": orders,
    "lineitem": lineitem,
}


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` as one parquet file; returns its size in bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


def stage(out_dir: str, seed: int, sf: float, tables) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; returns bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    return {
        t: write_parquet(TABLES[t](seed, sf), os.path.join(out_dir, f"{t}.parquet"))
        for t in tables
    }
