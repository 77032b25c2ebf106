"""Output checks for the benchmark (never timed).

Catalog keys are compared with their ``queries.ORACLE_SQL`` twin run by
DuckDB over the same parquet files: column names, coarse type class per
column, row count and an order-insensitive hash of the values (floats
canonicalised to 9 significant digits to absorb last-bit engine drift, the
discipline of the repo's oracle tests).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np
import pandas as pd


def _canon(v) -> str:
    """Canonical text of one value: every real number as 9 significant
    digits (int and float compare equal, -0 is 0, NaN is null), timestamps
    in ISO form, containers element-wise."""
    if isinstance(v, str):
        return v
    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, np.integer, np.floating, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "None"
        return "0" if f == 0 else f"{f:.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return _ts_text(pd.Series([pd.Timestamp(v)]))[0]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _ts_text(s: pd.Series) -> list[str]:
    """Timestamps as UTC wall-clock text to the microsecond."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    arr = s.to_numpy(dtype="datetime64[us]")
    return ["None" if t == "NaT" else t for t in np.datetime_as_string(arr, unit="us")]


def _numeric_hash(a: np.ndarray) -> np.ndarray:
    """Hash of float64 values rounded to 9 significant digits: the 9-digit
    mantissa and the decimal exponent are hashed together. Zero and -0 hash
    alike, and so do all NaNs (null)."""
    nonzero = np.isfinite(a) & (a != 0)
    mag = np.zeros(len(a))
    mag[nonzero] = np.floor(np.log10(np.abs(a[nonzero])))
    mant = np.where(a == 0, 0.0, a)
    mant[nonzero] = np.round(a[nonzero] / 10.0 ** (mag[nonzero] - 8))
    carry = np.abs(mant) >= 1e9  # rounding carried into the next decade
    mant[carry] = np.round(mant[carry] / 10)
    mag[carry] += 1
    mant[np.isnan(mant)] = np.inf * -1
    return pd.util.hash_array(mant) * np.uint64(31) ^ pd.util.hash_array(mag)


def _is_null(v) -> bool:
    return v is None or v is pd.NA or v is pd.NaT or (isinstance(v, float) and v != v)


def _column_hash(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        return pd.util.hash_array(np.array(_ts_text(s), dtype=object))
    if s.dtype != object:  # numeric and boolean dtypes, nullable or not
        return _numeric_hash(s.to_numpy(dtype="float64", na_value=np.nan))
    values = s.to_numpy(dtype=object)
    present = [v for v in values if not _is_null(v)]
    if all(isinstance(v, (bool, np.bool_, int, float, np.integer, np.floating, Decimal))
           for v in present):
        floats = np.array([np.nan if _is_null(v) else float(v) for v in values])
        return _numeric_hash(floats)
    return pd.util.hash_array(np.array(
        ["\0None" if _is_null(v) else _canon(v) for v in values], dtype=object
    ))


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: each row hashed over its columns
    in name order, the row hashes sorted, then digested."""
    rows = np.zeros(len(pdf), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in sorted(pdf.columns):
            rows = rows * np.uint64(1_000_003) ^ _column_hash(pdf[c])
    return hashlib.sha256(np.sort(rows).tobytes()).hexdigest()


def type_class(type_name: str) -> str:
    """Coarse type class, so integer-vs-decimal/float drift between the
    engines is caught (same classes as the repo's oracle tests)."""
    t = type_name.lower()
    if "[]" in t or t.startswith(("array", "list")):
        return "array"
    if t.startswith(("struct", "map", "row")):
        return "struct"
    if "hugeint" in t or "int128" in t or "decimal" in t or "numeric" in t:
        return "decimal"
    if any(x in t for x in ("tinyint", "smallint", "bigint", "int")) or t in (
        "long", "short", "byte",
    ):
        return "integer"
    if any(x in t for x in ("float", "double", "real")):
        return "float"
    if "bool" in t:
        return "bool"
    if "timestamp" in t:
        return "timestamp"
    if "date" in t:
        return "date"
    if any(x in t for x in ("string", "varchar", "utf8", "char")):
        return "string"
    if any(x in t for x in ("binary", "blob")):
        return "binary"
    return t


class Oracle:
    """DuckDB views over the table files the Spark side reads, optionally
    restricted by a per-table WHERE clause."""

    def __init__(self, table_paths: dict[str, str], where: dict[str, str] | None = None) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.sql("SET TimeZone='UTC'")
        for name, path in table_paths.items():
            cond = f" WHERE {where[name]}" if where and name in where else ""
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'{cond}")

    def expected(self, sql: str) -> dict:
        """The record of the oracle's result; safe to call from threads."""
        res = self.con.cursor().sql(sql)
        types = {c: type_class(str(t)) for c, t in zip(res.columns, res.types)}
        pdf = res.df()
        return {"columns": types, "rows": len(pdf), "hash": value_hash(pdf)}

    def close(self) -> None:
        self.con.close()


def expected_records(table_paths: dict[str, str], sqls: dict[str, str],
                     where_by_key: dict[str, dict[str, str]]) -> dict[str, dict]:
    """Each key's expected record, four keys at a time on cursors of one
    connection; a key whose oracle raised gets ``{"error": ...}``, which
    fails that key's ops. ``where_by_key`` gives a key its own views,
    restricted by per-table WHERE clauses."""
    dbs = {None: Oracle(table_paths)}
    dbs.update({key: Oracle(table_paths, where) for key, where in where_by_key.items()})
    try:
        with ThreadPoolExecutor(4) as pool:
            futures = {key: pool.submit(dbs.get(key, dbs[None]).expected, sql)
                       for key, sql in sqls.items()}
        out = {}
        for key, fut in futures.items():
            try:
                out[key] = fut.result()
            except Exception as exc:
                out[key] = {"error": f"oracle failed: {type(exc).__name__}: {exc}"[:300]}
        return out
    finally:
        for db in dbs.values():
            db.close()


def describe(pdf: pd.DataFrame, spark_types: dict[str, str]) -> dict:
    """The same record ``Oracle.expected`` makes, for a fetched Spark result."""
    return {
        "columns": {c: type_class(t) for c, t in spark_types.items()},
        "rows": len(pdf),
        "hash": value_hash(pdf),
    }


def mismatch(got: dict, want: dict) -> str | None:
    """None when the two records agree, else a one-line reason."""
    if sorted(got["columns"]) != sorted(want["columns"]):
        return f"columns {sorted(got['columns'])} != {sorted(want['columns'])}"
    drift = {
        c: (got["columns"][c], want["columns"][c])
        for c in want["columns"]
        if got["columns"][c] != want["columns"][c]
    }
    if drift:
        return f"type class drift {drift}"
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return "value hash differs"
    return None
