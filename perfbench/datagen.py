"""Seeded input tables for the ``datamart_queries`` workload.

The reference-shaped heads read eight tables: a TPC-H-like star schema
plus an ``events`` stream. This module writes them at the sf0.1 sizes with
the column names, types and value domains the heads expect. Every column is
drawn independently from ``numpy.random.default_rng(seed)``, so one seed
always gives byte-identical tables and another seed gives different values
at the same row counts. Each table is one single-row-group parquet file
under ``<out_dir>/<table>.parquet``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

#: row counts at sf0.1
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    offsets = rng.integers(0, (end - start).days + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(n["customer"])),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(n["supplier"])),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n["part"])]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n["part"])]
    out["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(n["part"])),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
            "p_type": _choice(rng, PART_TYPES, n["part"]),
            "p_size": i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n["part"]) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n["orders"])),
            "o_custkey": i64(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
            "o_orderpriority": _choice(rng, PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n["orders"], m)),
            "l_partkey": i64(rng.integers(0, n["part"], m)),
            "l_suppkey": i64(rng.integers(0, n["supplier"], m)),
            "l_linenumber": i32(rng.integers(1, 8, m)),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], m),
            "l_linestatus": _choice(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), m),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": i64(np.arange(e)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 1500, e)),
            "event_type": _choice(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> None:
    """Write the seed's tables under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
            compression="snappy",
        )
