"""Differential harness: Spark result vs DuckDB oracle.

Replicates the driver's t2 gate (row-count + column names +
order-insensitive values) so regressions surface in pytest before a
round ends.  Comparison: sort columns by name, sort rows by every
column, exact match for non-floats, tight tolerance for floats (our
query surface rounds explicitly, so disagreement beyond 1e-9 is a bug,
not noise).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            conn.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return conn


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.api.types.pandas_dtype("object").__class__) or s.dtype == object:
            # lists (array columns) -> tuples so they sort/compare
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if str(s.dtype).startswith("datetime64"):
            df[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        if str(s.dtype) in ("float32",):
            df[c] = s.astype("float64")
        if str(s.dtype).startswith("decimal") :
            df[c] = s.astype("float64")
    sort_cols = list(df.columns)
    if sort_cols:
        df = df.sort_values(sort_cols, na_position="last").reset_index(drop=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(
            f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"{name}: columns spark={sc} oracle={oc}")
        return problems
    if problems:
        return problems

    a, b = _normalize(spark_pdf.copy()), _normalize(oracle_pdf.copy())
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av_f = av.astype("float64").to_numpy()
            bv_f = bv.astype("float64").to_numpy()
            both_nan = np.isnan(av_f) & np.isnan(bv_f)
            close = np.isclose(av_f, bv_f, rtol=1e-9, atol=1e-9) | both_nan
            if not close.all():
                i = int(np.argmin(close))
                problems.append(
                    f"{name}.{c}: float mismatch at sorted row {i}: "
                    f"spark={av_f[i]!r} oracle={bv_f[i]!r}"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(
                    f"{name}.{c}: mismatch at sorted row {i}: "
                    f"spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
                )
    return problems


def run_pair(spark, spec, sf_dir: str) -> list[str]:
    """Execute one QuerySpec on both engines and diff."""
    spark_pdf = spec.build(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return [] if len(spark_pdf) >= 0 else [f"{spec.name}: spark failed"]
    conn = duckdb_conn(sf_dir)
    try:
        oracle_pdf = conn.execute(spec.oracle).fetchdf()
    finally:
        conn.close()
    return compare_frames(spark_pdf, oracle_pdf, spec.name)
