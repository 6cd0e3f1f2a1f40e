"""Local replica of the driver's t2 oracle-differential check.

Runs a registered Spark query and its DuckDB oracle SQL over the same
parquet lake, then compares row count, column names, and an
order-insensitive value fingerprint. Used by tests/test_queries_oracle.py
so oracle drift is caught before the driver sees it.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

from parquet_export_spark.sources.lake import STAR_TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in STAR_TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full precision: queries are designed to be bit-deterministic.
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(rows: list[tuple], columns: list[str]) -> tuple:
    """(row_count, sorted column names, order-insensitive multiset of rows
    with columns sorted by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(
        tuple(str(_norm(row[i])) for i in order) for row in rows
    )
    return len(rows), tuple(sorted(columns)), normed


def _pandas_canon(pdf):
    """Replica of the driver's pandas canonicalization: columns sorted
    by name, rows sorted by all columns, cells stringified.

    Faithfully reproduces the two trap classes the fetchall path
    misses: (a) top-level list cells crash ``sort_values``
    ("unhashable type: 'list'"), and (b) dtype divergence — DuckDB
    HUGEINT renders float64 in pandas while Spark longs stay int64, so
    ``repr`` of the cells differs (1 vs 1.0) even when values match.
    """
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    return cols, [
        tuple(_pandas_cell(v) for v in row)
        for row in pdf.itertuples(index=False)
    ]


def _pandas_cell(v) -> str:
    """Cell stringification for the pandas gate: dtype-sensitive for
    numerics (the driver's hash distinguishes int64 from float64 — the
    HUGEINT trap), but temporal-normalized (Spark DateType surfaces as
    datetime.date objects while DuckDB dates come back datetime64;
    the driver's r1 verdicts show it equates them)."""
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "None"
    if isinstance(v, datetime):  # includes pd.Timestamp
        return v.isoformat()
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return repr(v)


def pandas_canon_compare(sdf, con, sql: str) -> tuple[bool, str]:
    """The driver-fidelity gate: both results through the pandas path."""
    try:
        s_cols, s_vals = _pandas_canon(sdf.toPandas())
    except Exception as e:  # e.g. unhashable list cells
        return False, f"spark pandas-canon crash: {type(e).__name__}: {e}"
    try:
        d_cols, d_vals = _pandas_canon(con.execute(sql).df())
    except Exception as e:
        return False, f"oracle pandas-canon crash: {type(e).__name__}: {e}"
    if s_cols != d_cols:
        return False, f"pandas columns: spark={s_cols} duckdb={d_cols}"
    if s_vals != d_vals:
        diffs = [
            f"  spark={a}\n  duck ={b}" for a, b in zip(s_vals, d_vals) if a != b
        ][:3]
        return False, "pandas-canon value mismatch (first diffs):\n" + "\n".join(
            diffs
        )
    return True, "ok"


def compare(spark, sf_dir: str, fn, sql: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    con = duckdb_connection(sf_dir)
    try:
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        ok_pd, msg_pd = pandas_canon_compare(sdf, con, sql)
    finally:
        con.close()
    if not ok_pd:
        return False, msg_pd
    sn, scols, srows = fingerprint(s_rows, s_cols)
    dn, dcols, drows = fingerprint(d_rows, d_cols)
    if sn != dn:
        return False, f"row count: spark={sn} duckdb={dn}"
    if scols != dcols:
        return False, f"columns: spark={scols} duckdb={dcols}"
    if srows != drows:
        diffs = [
            f"  spark={a}\n  duck ={b}"
            for a, b in zip(srows, drows)
            if a != b
        ][:3]
        return False, "value mismatch (first diffs):\n" + "\n".join(diffs)
    return True, "ok"


def fixture_lake(spark, sf_dir: str, out_dir: str, replacements: dict) -> str:
    """Build a lake directory for adversarial differentials: every real
    table symlinked from ``sf_dir`` except those in ``replacements``
    (name -> DataFrame), which are written as single parquet FILES so
    both Spark and DuckDB read them identically."""
    import glob
    import shutil

    from parquet_export_spark.sources.lake import STAR_TABLES, table_path

    os.makedirs(out_dir, exist_ok=True)
    for name in STAR_TABLES:
        src = table_path(sf_dir, name)
        if os.path.exists(src) and name not in replacements:
            dst = os.path.join(out_dir, f"{name}.parquet")
            if not os.path.exists(dst):
                os.symlink(src, dst)
    for name, df in replacements.items():
        staging = os.path.join(out_dir, f".staging_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, os.path.join(out_dir, f"{name}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)
    return out_dir


def run_sql_entry(spark, name: str, tables: dict):
    """Run SQL registry entry ``name`` over ``tables`` (view name ->
    DataFrame), each registered as a temp view first: the fixture-dict
    call of an entry whose plan is its oracle text. The views are
    dropped once the query is analyzed, so no later query reads them."""
    from parquet_export_spark.queries import REGISTRY

    for view, df in tables.items():
        df.createOrReplaceTempView(view)
    try:
        return spark.sql(REGISTRY[name].fn.sql)
    finally:
        for view in tables:
            spark.catalog.dropTempView(view)
