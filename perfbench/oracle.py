"""Order-insensitive, type-checked comparison of a slot's Spark output
with its DuckDB oracle SQL, run over the same generated parquet files."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa

_INT = ("bigint", "int", "smallint", "tinyint")
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _type_ok(spark_type: str, duck_type: str) -> bool:
    """Same type family on both sides. An uncast DuckDB SUM yields
    HUGEINT or DECIMAL where Spark yields BIGINT: equal values, different
    typed results, so that counts as a mismatch."""
    duck = duck_type.upper()
    if spark_type in _INT:
        return duck in _DUCK_INT
    if spark_type in ("double", "float"):
        return duck in ("FLOAT", "DOUBLE")
    if spark_type.startswith("decimal"):
        return duck.startswith("DECIMAL")
    if spark_type == "string":
        return duck == "VARCHAR"
    if spark_type == "date":
        return duck == "DATE"
    if spark_type == "boolean":
        return duck == "BOOLEAN"
    return not (duck.startswith("DECIMAL") or "HUGEINT" in duck)


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def mismatch(out: pa.Table, spark_types: dict[str, str],
             con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when ``out`` equals the oracle's rows as a multiset over the
    sorted column names, else a one-line reason."""
    cols = sorted(out.column_names)
    rel = con.sql(sql)
    names = list(rel.columns)
    if sorted(names) != cols:
        return f"columns {cols} != oracle {sorted(names)}"
    duck_types = {n: str(t) for n, t in zip(names, rel.types)}
    for c in cols:
        if not _type_ok(spark_types[c], duck_types[c]):
            return f"type of {c}: spark {spark_types[c]} vs oracle {duck_types[c]}"
    mine = out.select(cols).to_pylist()
    got = sorted((tuple(_norm(r[c]) for c in cols) for r in mine), key=repr)
    idx = [names.index(c) for c in cols]
    want = sorted((tuple(_norm(row[i]) for i in idx) for row in rel.fetchall()), key=repr)
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for a, b in zip(got, want):
        if a != b:
            return f"row {a} != oracle {b}"
    return None
