"""Seeded tables for the ``query_mix`` workload.

The engine's queries read a TPC-H-like star schema plus ``events``
(TESTDATA.md). The benchmark makes its own copy from ``--seed`` instead
of reading a shared directory: same seed, same bytes; the run then only
reads inside its checkout. Column names, Arrow types and value domains
follow the fixture tables (keys, flags, date ranges). Row counts are
those of the fixtures at the same scale factor (``lineitem`` is about
6 M x sf). As in TPC-H, each order has lines 1..k with k in 1..7, so
(``l_orderkey``, ``l_linenumber``) is a key and an ORDER BY on it is a
total order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, vals, n) -> pa.Array:
    return pa.array([vals[j] for j in rng.integers(0, len(vals), n)])


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def _customer(rng, sf) -> dict:
    n = int(150_000 * sf)
    return {
        "c_custkey": _i64(np.arange(n)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": _i32(rng.integers(0, 25, n)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def _supplier(rng, sf) -> dict:
    n = int(10_000 * sf)
    return {
        "s_suppkey": _i64(np.arange(n)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": _i32(rng.integers(0, 25, n)),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
    }


def _orders(rng, sf) -> dict:
    n = int(1_500_000 * sf)
    return {
        "o_orderkey": _i64(np.arange(n)),
        "o_custkey": _i64(rng.integers(0, int(150_000 * sf), n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 1000, 500_000)),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _lineitem(rng, sf) -> dict:
    lines = rng.integers(1, 8, int(1_500_000 * sf))
    n = int(lines.sum())
    # line numbers 1..k within each order: cumulative count minus the
    # order's starting offset
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    return {
        "l_orderkey": _i64(np.repeat(np.arange(len(lines)), lines)),
        "l_partkey": _i64(rng.integers(0, int(200_000 * sf), n)),
        "l_suppkey": _i64(rng.integers(0, int(10_000 * sf), n)),
        "l_linenumber": _i32(linenumber),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04")),
    }


def _events(rng, sf) -> dict:
    n = int(1_000_000 * sf)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return {
        "event_id": _i64(np.arange(n)),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ev_us).astype("datetime64[us]")),
        "user_id": _i64(rng.integers(0, 150, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n), 2))),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]),
    }


BUILDERS = {
    "customer": _customer,
    "supplier": _supplier,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
}


def generate(out_dir: str, seed: int, sf: float, tables: list[str]) -> str:
    """Write each named table as ``<out_dir>/<name>.parquet``; returns
    out_dir. Every table has its own generator seeded from (seed, name),
    so a table's bytes do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, *name.encode()])
        cols = BUILDERS[name](rng, sf)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
