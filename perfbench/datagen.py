"""Seeded input tables for the benchmark.

Every table the benchmark's queries read is written here from ``--seed``:
the same seed and scale give byte-identical parquet files.  Each table is
one file with one row group, the layout of the engine's reference test data.

- ``events``, ``documents``, ``embeddings`` come from the repository's own
  scale generator (``tools/gen_scale_data.py``), which matches the reference
  data's measured distributions.
- The TPC-H-like tables (``region`` .. ``lineitem``) follow the reference
  data's domains: the same key ranges per scale factor, the same categorical
  values (segments, priorities, flags, brands, part types and names), dates
  in 1995-01-01 .. 2001-08-01 and prices in the same ranges.

Row counts scale with ``sf``: at sf 0.01 there are 10,000 events over 150
users, 500 documents, 15,000 orders and 60,000 line items, as in the
reference data, and 200 embeddings (the scale generator's 2,000 per sf 0.1).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import gen_scale_data as gsd  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
DAY0 = np.datetime64("1995-01-01", "D")
N_DAYS = int((np.datetime64("2001-08-01", "D") - DAY0).astype(int)) + 1

def _days(rng: np.random.Generator, n: int) -> pa.Array:
    d = DAY0 + rng.integers(0, N_DAYS, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = round(150_000 * sf), round(10_000 * sf)
    n_part, n_ord, n_line = round(200_000 * sf), round(1_500_000 * sf), round(6_000_000 * sf)
    nation_keys = np.arange(25, dtype=np.int32)
    parts = np.arange(n_part)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(nation_keys % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(parts, pa.int64()),
            "p_name": pa.array([
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (parts % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(rng, n_line),
        }),
    }


def write_tables(out: str, seed: int, sf: float) -> None:
    """Write every table at scale ``sf`` under ``out``, all drawn in a fixed
    order from one random stream seeded with ``seed``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    mult = sf / 0.1  # the scale generator counts in multiples of sf 0.1
    tables = {
        "events": gsd.gen_events(rng, round(100_000 * mult), round(1500 * mult)),
        "documents": gsd.gen_documents(rng, round(5_000 * mult)),
        "embeddings": gsd.gen_embeddings(rng, round(2_000 * mult)),
        **tpch_tables(rng, sf),
    }
    for name, table in tables.items():
        # one row group per file, whatever the size (the reference layout)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=len(table) or 1)
