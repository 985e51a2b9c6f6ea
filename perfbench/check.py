"""Exact output checks: Spark results against DuckDB oracles.

Rows are compared as canonical strings with columns sorted by name and
rows sorted, so a value that differs in type or in its last digit (a
``Decimal`` against a float, ``1`` against ``1.0``, an inexact float)
is a mismatch, as it is under a value hash.  There is no float
tolerance.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else repr(float(v))
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return f"{type(v).__name__}:{v}"


def canonical_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    rows = ["|".join(_cell(v) for v in rec) for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return rows


def diff(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    a, b = canonical_rows(spark_df), canonical_rows(oracle_df)
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: spark={x[:160]} oracle={y[:160]}"
    return None


def duck_con(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
