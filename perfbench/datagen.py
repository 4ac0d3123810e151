"""Seeded TPC-H-shaped input tables for the benchmark.

The tables carry the same column names and types as the engine's
test data (TESTDATA.md: ``customer``, ``orders``, ``lineitem``, ``events``), so the
reference-job replicas run on them unchanged. Every value comes from one
``numpy`` generator seeded by the workload seed: the same seed and scale
give byte-identical parquet files.

Numeric columns the workloads update hold integers or cents, so every
update the benchmark runs is exact in both Spark and DuckDB.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "logout", "search"])


def _dates(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n)
    return pa.array(_EPOCH_1992 + days * _DAY_US, type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def make_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """``n_orders`` orders with 1–7 lines each (about 4 on average), one
    customer per ten orders and two events per three orders."""
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 10)
    n_events = n_orders * 2 // 3

    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, n_cust, -99_999, 999_999),
            "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_cust)],
        }
    )

    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": orderkey,
            "o_custkey": rng.integers(1, n_cust + 1, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _cents(rng, n_orders, 100_000, 50_000_000),
            "o_orderdate": _dates(rng, n_orders, 2400),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )

    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_orderkey = np.repeat(orderkey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(1, n_orders // 7 + 2, n_lines),
            "l_suppkey": rng.integers(1, n_orders // 150 + 2, n_lines),
            "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _cents(rng, n_lines, 90_000, 10_500_000),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": _dates(rng, n_lines, 2520),
        }
    )

    events = pa.table(
        {
            "event_id": np.arange(1, n_events + 1, dtype=np.int64),
            "ts": _dates(rng, n_events, 365),
            "user_id": rng.integers(1, n_cust + 1, n_events),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n_events)],
            "value": _cents(rng, n_events, 0, 10_000),
            "props": pa.array([None] * n_events, type=pa.string()),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One ``<name>.parquet`` per table, the layout ``sources.io.load_table``
    reads. Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
