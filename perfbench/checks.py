"""Output checks: catalog results against their DuckDB oracles.

A result is compared by row count plus an order-insensitive digest of
its normalized rows, with columns taken in name order. Normalization
follows the catalog's exact-parity contract: decimals compare by
normalized value, floats by ``repr`` (bit-exact), timestamps as naive
UTC, nested values element-wise. The expected side is computed with
DuckDB before any timing starts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from decimal import Decimal


def norm(v):
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of ``rows`` whose values
    follow ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for k in keyed:
        h.update(k.encode())
        h.update(b"\n")
    return len(keyed), h.hexdigest()


def oracle_expectations(sf_dir: str, tables: list[str], oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each oracle SQL in DuckDB over the parquet tables of
    ``sf_dir`` and return name -> (rows, digest)."""
    import os

    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = rows_digest(cols, res.fetchall())
        return out
    finally:
        con.close()
