"""Result checks: canonical row digests and DuckDB oracle execution.

A result is compared as a multiset of rows with columns sorted by name,
each cell normalised the same way for Spark and DuckDB values (floats
by their shortest round-trip repr, maps and structs as sorted items).
"""

from __future__ import annotations

import hashlib
import math

import duckdb

from fixtures import TABLES


def duck_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null" if v is None else "nan"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "asDict"):      # pyspark Row (struct)
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], (list, tuple)):
            v = dict(zip(v["key"], v["value"]))
        items = sorted((str(k), _cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canon(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def canon_rows(rows) -> list[tuple]:
    """Canonical form of pyspark Rows (collect())."""
    cols = list(rows[0].__fields__) if rows else []
    return canon(cols, [tuple(r) for r in rows])


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha1()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())
