"""Seeded input generators with the schemas of the repo's fixtures.

Every table is a pure function of ``seed``: the same seed writes
byte-identical parquet files. Column names, types and parquet logical
types equal those of the ``sf0.1`` fixture (timestamps are
TIMESTAMP(MICROS), not adjusted to UTC, as there); row counts and key
ranges follow it too, so the registry queries and their DuckDB oracles
run unchanged on them. Only the tables the benchmark's queries read are
written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Closed-loop tables: sf0.1 row counts.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
# Key ranges of lineitem's part and supplier keys (sf0.1).
PARTS = 20_000
SUPPLIERS = 1_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _events_table(rng, n: int, ts_us: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts_us),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype="int64")),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int) -> str:
    """Write the closed-loop tables (``ROWS``) into ``out_dir``; returns it."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    nation = np.arange(25, dtype="int32")
    orderdate = _EPOCH_1995_US + rng.integers(0, 2405, n["orders"]) * _DAY_US
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation),
                "n_name": [f"NATION_{i}" for i in nation],
                "n_regionkey": pa.array(nation % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"], dtype="int64")),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, n["customer"], dtype="int32")
                ),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": np.asarray(SEGMENTS)[
                    rng.integers(0, 5, n["customer"])
                ].tolist(),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"], dtype="int64")),
                "o_custkey": pa.array(
                    rng.integers(0, n["customer"], n["orders"], dtype="int64")
                ),
                "o_orderstatus": np.asarray(["F", "O", "P"])[
                    rng.integers(0, 3, n["orders"])
                ].tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _ts(orderdate),
                "o_orderpriority": np.asarray(PRIORITIES)[
                    rng.integers(0, 5, n["orders"])
                ].tolist(),
            }
        ),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"]),
        "events": _events_table(
            rng,
            n["events"],
            np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n["events"])),
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _lineitem(rng, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype("float64")
    unit = rng.uniform(900.0, 2100.0, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype="int64")),
            "l_partkey": pa.array(rng.integers(0, PARTS, n, dtype="int64")),
            "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n, dtype="int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype="int32")),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * unit, 2),
            "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(),
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n)].tolist(),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n) * _DAY_US),
        }
    )


def write_stream_events(
    out_dir: str, seed: int, rate_per_s: float, seconds: float, speed: float
) -> tuple[str, int]:
    """Events for the paced stream: ``rate_per_s * seconds`` rows whose
    event times are evenly spread (with seeded jitter) over
    ``speed * seconds`` of event time inside ONE tumbling day, so the
    Q1 key space is fixed at the cell count from the first batch.
    Returns (path of events.parquet, row count)."""
    rng = np.random.default_rng([seed, 2])
    n = int(rate_per_s * seconds)
    span_us = int(speed * seconds * 1e6)
    if span_us >= _DAY_US // 2:
        raise ValueError("the stream's event-time span must stay inside one day")
    step = span_us / n
    jitter = rng.uniform(0.0, step, n)
    ts = _EPOCH_2024_US + 3_600_000_000 + (np.arange(n) * step + jitter).astype("int64")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(_events_table(rng, n, ts), path)
    return path, n
