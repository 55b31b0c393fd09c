"""Output checks against DuckDB, run outside the timed region.

Rows are compared order-insensitively and exactly, after the same
normalisation the repository's differential tests use: columns sorted by
name, Decimal as float, dates as ISO strings.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def read_table(con, path: str, columns: list[str] | None = None, where: str = "") -> tuple[list[str], list[tuple]]:
    """Rows of a landed parquet directory."""
    cols = ", ".join(columns) if columns else "*"
    sql = f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"
    return query(con, sql + (f" WHERE {where}" if where else ""))


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def canon(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(repr(c) for c in r))
    return [cols[i] for i in order], out


def diff(a: tuple[list[str], list], b: tuple[list[str], list]) -> str | None:
    """None when the two (columns, rows) results are equal as sets of rows
    with multiplicity; otherwise a short description of the first
    difference."""
    ca, ra = canon(*a)
    cb, rb = canon(*b)
    if ca != cb:
        return f"columns differ: {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"row count differs: {len(ra)} vs {len(rb)}"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing row: {x} vs {y}"
    return None
