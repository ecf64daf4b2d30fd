"""Correctness checks, run outside every timed region.

Queries are compared with their ``oracle_sql()`` twin on DuckDB over the
same generated parquet files: same column names, same row count, and the
same multiset of rows after canonicalization (numbers as float64,
timestamps as nanoseconds, everything else as text, rows sorted). The
medallion gold tables are compared with an SCD1/SCD2 computation that
DuckDB makes directly from the generated change batches.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from datagen import CATALOG_TABLES


def duckdb_catalog(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (np.ndarray, list)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.astype("datetime64[ns]").astype("int64")
        elif pd.api.types.is_numeric_dtype(col) and not pd.api.types.is_bool_dtype(col):
            out[c] = col.astype("float64")
        else:
            out[c] = col.map(_cell)
    canon = pd.DataFrame(out)
    return canon.sort_values(by=list(canon.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows; else what differs."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count {len(actual)} != {len(expected)}"
    a, b = canonicalize(actual), canonicalize(expected)
    for c in a.columns:
        if not a[c].equals(b[c]):
            i = int(np.flatnonzero((a[c] != b[c]).to_numpy())[0])
            return f"column {c} row {i}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


def verify_query(spark_result: pd.DataFrame, oracle: str,
                 con: duckdb.DuckDBPyConnection) -> str | None:
    return compare_frames(spark_result, con.execute(oracle).df())


def _scd_expected(batch_files: list[str], key: str, scd_type: int) -> str:
    files = ", ".join(f"'{f}'" for f in batch_files)
    src = f"(SELECT DISTINCT * FROM read_parquet([{files}]))"
    if scd_type == 1:
        return (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {key} ORDER BY updated_at DESC) AS rn FROM {src}) "
                "WHERE rn = 1")
    return (f"SELECT *, updated_at AS __START_AT, "
            f"lead(updated_at) OVER (PARTITION BY {key} ORDER BY updated_at) AS __END_AT, "
            f"lead(updated_at) OVER (PARTITION BY {key} ORDER BY updated_at) IS NULL "
            f"AS __IS_CURRENT FROM {src}")


def verify_gold(gold_files: list[str], batch_files: list[str], key: str,
                scd_type: int, columns: list[str]) -> str | None:
    """Compare a gold snapshot (its parquet files) with the SCD table
    DuckDB derives from every change batch landed so far."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        cols = ", ".join(columns)
        expected = f"SELECT {cols} FROM ({_scd_expected(batch_files, key, scd_type)})"
        actual = f"SELECT {cols} FROM read_parquet([{', '.join(repr(f) for f in gold_files)}])"
        extra = con.execute(f"SELECT count(*) FROM ({actual} EXCEPT ALL {expected})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({expected} EXCEPT ALL {actual})").fetchone()[0]
    finally:
        con.close()
    if extra or missing:
        return f"gold has {extra} unexpected and lacks {missing} expected rows"
    return None
