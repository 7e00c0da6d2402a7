"""Output checks: row count plus an order-insensitive digest per result.

The expected side is the registry's DuckDB oracle SQL run over the same
generated inputs, so a result is right when Spark and DuckDB agree row
for row. Canonicalisation follows the registry's determinism rules:
columns are compared by name, integer widths are equal, an integer and
a float are not, and floats compare exactly.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd
from spotify_tags_etl_spark.sources.tpch import TPCH_TABLES


def _cell(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else f"f{v!r}"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"s{bytes(v).hex()}"
    if isinstance(v, str):
        return f"s{v}"
    return f"{type(v).__name__}:{v!r}"


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows)."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in pdf[cols].astype(object).itertuples(index=False))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return len(rows), h.hexdigest()


def duckdb_for(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    return digest(con.execute(sql).fetchdf())
