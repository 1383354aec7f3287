"""Order-insensitive result digests, and the registry's DuckDB oracle
results for a warehouse.

Values are canonicalised the way ``scripts/driver_sim.py`` does it
(floats to ten significant digits, timestamps with microseconds,
booleans as 0/1), columns are ordered by lower-cased name, and the
digest is a SHA-256 over the sorted canonical rows, so it equals for
two results exactly when their row multisets are equal.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, Decimal):
        return f"{float(v):.10g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Row count, sorted column names and multiset digest of a result."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\x1e")
    return {"rows": len(lines), "columns": sorted(cols), "digest": h.hexdigest()}


def oracle_digests(wh: str, tables: list[str], oracles: dict[str, str]) -> dict[str, dict]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(wh, t)}.parquet'")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
