"""Output checks against DuckDB twins.

A result and its twin match when they agree on row count, schema
(column names and DuckDB types) and an order-insensitive hash of the
rows. Both sides are hashed by the same DuckDB expression: every value
is rendered as text (doubles rounded to 6 places first), a row hashes
the ``|``-joined texts, and the table hash is the sum of the row hashes,
which duplicates do not cancel.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

_TS = ("TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_NS", "TIMESTAMP_MS", "TIMESTAMP_S")


@dataclass(frozen=True)
class Digest:
    rows: int
    schema: tuple[tuple[str, str], ...]
    hash: int


def _family(t: str) -> str:
    return "TIMESTAMP" if t in _TS else t


def _cell(name: str, dtype: str) -> str:
    c = f'"{name}"'
    if dtype in ("DOUBLE", "FLOAT"):
        c = f"round({c}, 6)"
    elif dtype in _TS:
        c = f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    return f"coalesce(CAST({c} AS VARCHAR), '\\N')"


def digest(con: duckdb.DuckDBPyConnection, relation: str) -> Digest:
    """Digest of a SQL relation (a query or a ``read_parquet(...)`` call)."""
    desc = con.sql(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    schema = tuple((r[0], _family(r[1])) for r in desc)
    cells = ", ".join(_cell(n, t) for n, t in schema)
    rows, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {cells}))::HUGEINT), 0) "
        f"FROM ({relation})"
    ).fetchone()
    return Digest(int(rows), schema, int(h))


def compare(con: duckdb.DuckDBPyConnection, got: str, want: str) -> str | None:
    """None when the relations match, else a one-line reason."""
    g, w = digest(con, got), digest(con, want)
    if g.schema != w.schema:
        return f"schema {g.schema} != {w.schema}"
    if g.rows != w.rows:
        return f"rows {g.rows} != {w.rows}"
    if g.hash != w.hash:
        return "row hash differs"
    return None


def parquet_dir(path: str) -> str:
    """Relation over the data files of a plain (non-manifest) parquet dir."""
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
