"""Seeded synthetic tables in the shape of the engine's sf-scaled test data.

The benchmark must make its inputs from ``--seed`` alone, so it does not
read any pre-generated data set. This module writes one parquet file per
table with the schemas of ``FIXTURES.md`` and row counts proportional to
the scale factor (sf0.1: 100k events, 600k line items, 5,000 documents).

Only the size-defining properties are fixed (row counts, key ranges,
value ranges, day spread of the events); the seed picks the values.
Events are spread evenly over 30 days, so every day partition of the
stream workload's store holds the same number of rows whatever the seed.

    python3 perfbench/datagen.py <out_dir> <seed> <sf> <table>...
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at sf=1.
_ROWS_AT_SF1 = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

EVENT_DAYS = 30
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
EMBED_DIM = 64


def rows(table: str, sf: float) -> int:
    return max(1, int(round(_ROWS_AT_SF1[table] * sf)))


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _order_customers(rng: np.random.Generator, n: int, n_customers: int) -> np.ndarray:
    """Customer keys of ``n`` orders; every 100th customer places none,
    so the anti-join query has rows to return."""
    keys = rng.integers(0, n_customers, n).astype(np.int64)
    keys[keys % 100 == 0] += 1
    return np.minimum(keys, n_customers - 1)


def make_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` events, ``event_id`` in time order, an equal share per day."""
    day = np.arange(n) % EVENT_DAYS
    offset_us = rng.integers(0, 86_400_000_000, n)
    ts = EVENT_START + (day * 86_400_000_000 + offset_us).astype("timedelta64[us]")
    ts.sort()
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(2, n // 66), n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # a few exact duplicates, so the dedup queries have groups to report
    for i in range(0, n - 1, 600):
        texts[i + 1 + int(rng.integers(0, min(599, n - i - 1)))] = texts[i]
    text = pd.Series(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": text.str.len().astype(np.int64),
        }
    )


def make_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, sf: float, tables: tuple[str, ...]) -> dict:
    """Generate the named tables; each table draws from its own stream so
    the set requested does not change any table's contents."""
    out: dict = {}
    streams = dict(
        zip(_ROWS_AT_SF1, np.random.SeedSequence(seed).spawn(len(_ROWS_AT_SF1)))
    )
    for name in tables:
        rng = np.random.default_rng(streams[name])
        n = rows(name, sf)
        if name == "customer":
            out[name] = pd.DataFrame(
                {
                    "c_custkey": np.arange(n, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(n)],
                    "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                    "c_acctbal": _cents(rng, n, -999.0, 9999.0),
                    "c_mktsegment": rng.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
                    ),
                }
            )
        elif name == "orders":
            out[name] = pd.DataFrame(
                {
                    "o_orderkey": np.arange(n, dtype=np.int64),
                    "o_custkey": _order_customers(rng, n, rows("customer", sf)),
                    "o_orderstatus": rng.choice(["F", "O", "P"], n),
                    "o_totalprice": _cents(rng, n, 850.0, 550_000.0),
                    "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
                    "o_orderpriority": rng.choice(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                    ),
                }
            )
        elif name == "lineitem":
            out[name] = pd.DataFrame(
                {
                    "l_orderkey": rng.integers(0, rows("orders", sf), n).astype(np.int64),
                    "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n).astype(np.int64),
                    "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n).astype(np.int64),
                    "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                    "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                    "l_extendedprice": _cents(rng, n, 900.0, 105_000.0),
                    "l_discount": rng.integers(0, 11, n) / 100.0,
                    "l_tax": rng.integers(0, 9, n) / 100.0,
                    "l_returnflag": rng.choice(["A", "N", "R"], n),
                    "l_linestatus": rng.choice(["F", "O"], n),
                    "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
                }
            )
        elif name == "events":
            out[name] = make_events(rng, n)
        elif name == "documents":
            out[name] = make_documents(rng, n)
        elif name == "embeddings":
            out[name] = make_embeddings(rng, n)
        else:
            raise KeyError(name)
    return out


def write_tables(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> str:
    """Write ``<out_dir>/<table>.parquet`` for each table; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, data in make_tables(seed, sf, tables).items():
        table = data if isinstance(data, pa.Table) else pa.Table.from_pandas(
            data, preserve_index=False
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), tuple(sys.argv[4:]))
