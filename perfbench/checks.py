"""Output checks, run after the timed regions.

Each query's rows are compared with its ``registry.oracle_sql()`` twin run
on DuckDB over the same parquet files, with the canonical row form and the
float tolerance of ``tools/oracle_check.py``.  On top of the oracle, the
capture verdict must show what each capture method is known to do: the log
and trigger lanes lose, add and reorder nothing, and the polling lane misses
the updates that land between two polls.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from oracle_check import TABLES, canon_rows, near  # noqa: E402


def duck(sf_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(cols: list[str], rows: list[tuple], con, sql: str) -> str | None:
    """None when the Spark rows match the DuckDB rows, else the first reason."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns differ: spark={sorted(cols)} duckdb={sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count differs: spark={len(rows)} duckdb={len(d_rows)}"
    _, cs = canon_rows(cols, rows)
    _, cd = canon_rows(d_cols, d_rows)
    for a, b in zip(cs, cd):
        if a != b and not all(x == y or near(x, y) for x, y in zip(a, b)):
            return f"rows differ: spark={a} duckdb={b}"
    return None


def verdict_properties(cols: list[str], rows: list[tuple]) -> str | None:
    """The capture methods' known behaviour, read from ``cdc_verdict``."""
    by = {r[cols.index("method")]: dict(zip(cols, r)) for r in rows}
    for lane in ("log", "trigger"):
        v = by.get(lane)
        if v is None:
            return f"verdict has no {lane} lane"
        if v["missing"] or v["extra"] or v["ordering_issues"]:
            return f"{lane} lane is not exact: {v}"
    if not by.get("polling") or by["polling"]["missing"] <= 0:
        return "polling lane reports no missing events; polling must collapse updates"
    return None
