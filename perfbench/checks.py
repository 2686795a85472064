"""Output checks against DuckDB, run outside every timed region."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# quantiles_lineitem's interpolated quartile differs from DuckDB's
# quantile_cont in the last bits on the generated tables; the contract
# tool holds the bitwise line, this check holds correctness.
FLOAT_RTOL = 1e-12


def duck_over(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with each input table registered as a view."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    return "obj"


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    try:
        return df.sort_values(list(df.columns)).reset_index(drop=True)
    except TypeError:  # unorderable cells (lists, dicts): order by text
        order = df.astype(str).sort_values(list(df.columns)).index
        return df.loc[order].reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows with the same column kinds,
    cell for cell; else a short reason.  tools/drive_contract.py's rule,
    except that floats may differ in the last bits (FLOAT_RTOL)."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    a, b = _sorted(got[cols]), _sorted(want[cols])
    for c in cols:
        if _kind(a[c]) != _kind(b[c]):
            return f"column {c}: {_kind(a[c])} != {_kind(b[c])}"
        both_na = a[c].isna() & b[c].isna()
        if _kind(a[c]) == "float":
            same = np.isclose(a[c], b[c], rtol=FLOAT_RTOL, atol=0) | both_na
        else:
            try:
                same = (a[c] == b[c]) | both_na
            except (TypeError, ValueError):
                same = a[c].astype(str) == b[c].astype(str)
        if not bool(np.all(same)):
            return f"column {c}: {int((~np.asarray(same)).sum())} cells differ"
    return None


def row_count(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def pipeline_expected_counts(con, entities) -> dict[str, int]:
    """Warehouse rows each entity should hold: its source count, with
    lineitem deduplicated on (l_orderkey, l_partkey)."""
    out = {}
    for name in entities:
        if name == "lineitem":
            sql = "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"
        else:
            sql = f"SELECT count(*) FROM {name}"
        out[name] = con.execute(sql).fetchone()[0]
    return out


def rollup_differs(sink_dir: str, events_dir: str) -> str | None:
    """The streaming sink against a batch hourly group-by of the landed
    events (``approx_users`` is approximate and not compared)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    want = con.execute(
        f"""SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events, sum(value) AS sum_value
            FROM read_parquet('{events_dir}/*.parquet') GROUP BY ALL"""
    ).df()
    got = con.execute(
        f"""SELECT window_start::TIMESTAMP AS window_start, event_type,
                   n_events, sum_value
            FROM read_parquet('{sink_dir}/*.parquet')"""
    ).df()
    if len(got) != len(want):
        return f"sink rows {len(got)} != {len(want)}"
    keys = ["window_start", "event_type"]
    m = got.merge(want, on=keys, how="outer", suffixes=("_got", "_want"))
    if m.isna().any().any():
        return "sink windows differ from the batch rollup"
    if not (m.n_events_got == m.n_events_want).all():
        return "n_events differs"
    if not np.allclose(m.sum_value_got, m.sum_value_want, rtol=1e-9, atol=1e-6):
        return "sum_value differs"
    return None
