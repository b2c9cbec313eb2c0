"""Answer checking for query operations: the order-insensitive
canonical signature the engine's oracle tests use (sorted column names,
row count, sorted canonical rows), computed over ``collect()`` rows on
the engine side and over DuckDB ``fetchall()`` rows on the oracle side.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os


def canon(v) -> str:
    """One cell as a type-tagged string. Dates widen to timestamps and
    decimals to doubles, as the oracle tests' pandas round trip does."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "∅" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, dt.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"t:{dt.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return f"x:{bytes(v).hex()}"
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns structs as dicts
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"o:{v!r}"


def signature(columns: list[str], rows) -> str:
    """Digest of sorted column names, row count and sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    h.update(f"\x1e{len(lines)}".encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def oracle_signatures(data_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, str]:
    """Run each oracle SQL over the parquet tables in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, query in sql.items():
            rel = con.sql(query)
            out[name] = signature(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
