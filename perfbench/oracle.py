"""Result checks: DuckDB oracles and order-insensitive row digests."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from olist_data_warehouse_spark.schemas import TESTDATA


def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def normalize(cols: list[str], rows) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of cell reprs, columns in name order, floats
    rounded to 6 places: equal results from either engine compare equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_cell(r[i])) for i in order) for r in rows)


def spark_rows(df) -> list[tuple[str, ...]]:
    return normalize(df.columns, [tuple(r) for r in df.collect()])


def digest(norm_rows: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for r in norm_rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def duckdb_rows(data_dir: str, sql: str) -> list[tuple[str, ...]]:
    con = duckdb.connect()
    try:
        for t in TESTDATA:
            p = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return normalize(cols, res.fetchall())
    finally:
        con.close()
