"""Cleaning operators — SURVEY §2.2 (P1-P13) and §2.3 (D1-D5).

Reference semantics: src/transform/cleaners.py in the pandas repo
(null strategies :64-100, dedup :102-130, timestamp coercion :132-172,
string normalize :174-215, derived columns :217-255, safe ratios
:420-425).  Re-expressed as lazy, distributed-safe DataFrame
transforms:

* pandas relies on implicit physical row order for ffill /
  interpolate / keep-first dedup; Spark has no such order, so every
  order-sensitive operator here takes explicit ``order_by`` (and
  optional ``partition_by``) columns and is implemented over Window
  frames — deterministic under any partitioning.
* everything stays JVM-side (built-in functions, no Python UDFs), so
  the operators whole-stage-codegen and scale linearly; the only
  shuffle any of them introduces is the Window partition exchange,
  which at 100 TB is partitioned by the entity key (e.g. user_id) and
  therefore skew-bounded.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import exact_round

# ---------------------------------------------------------------------------
# Missing values (ref cleaners.py:64-100)
# ---------------------------------------------------------------------------


def drop_missing(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """strategy="drop" (ref :72-73) → na.drop on the subset."""
    return df.na.drop(subset=subset)


def fill_constant(
    df: DataFrame, value, subset: list[str] | None = None
) -> DataFrame:
    """strategy="fill" with a literal (ref :78-79)."""
    if isinstance(value, Mapping):
        return df.na.fill(dict(value))
    return df.na.fill(value, subset=subset)


def fill_directional(
    df: DataFrame,
    cols: Iterable[str],
    order_by: list[str],
    partition_by: list[str] | None = None,
    direction: str = "forward",
) -> DataFrame:
    """ffill/bfill (ref :76-77) as last/first-non-null window fills.

    pandas fills along implicit row order; here the order is explicit
    and the fill runs per partition, so the plan is one Window exchange
    on ``partition_by`` and a single sort — no Python boundary.
    """
    part = partition_by or []
    if direction == "forward":
        w = (
            Window.partitionBy(*part)
            .orderBy(*[F.col(c).asc() for c in order_by])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fill = lambda c: F.last(F.col(c), ignorenulls=True).over(w)  # noqa: E731
    elif direction == "backward":
        w = (
            Window.partitionBy(*part)
            .orderBy(*[F.col(c).asc() for c in order_by])
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        fill = lambda c: F.first(F.col(c), ignorenulls=True).over(w)  # noqa: E731
    else:
        raise ValueError(f"direction must be forward|backward, got {direction}")
    for c in cols:
        df = df.withColumn(c, fill(c))
    return df


def fill_default(
    df: DataFrame,
    numeric_cols: Iterable[str] | None = None,
    string_cols: Iterable[str] | None = None,
    string_token: str = "UNKNOWN",
    relative_error: float = 0.0,
) -> DataFrame:
    """Type-aware default fill (ref :81-86): numeric → median,
    non-numeric → "UNKNOWN".

    Exact median (relative_error=0) matches the pandas/DuckDB median at
    test scale; pass relative_error>0 to switch to approx_percentile's
    sketch at 100 TB where exact is a full sort.
    """
    numeric_types = (T.DoubleType, T.FloatType, T.IntegerType, T.LongType)
    if numeric_cols is None:
        numeric_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, numeric_types)
        ]
    if string_cols is None:
        string_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
    numeric_cols, string_cols = list(numeric_cols), list(string_cols)
    if numeric_cols:
        medians = df.select(
            [
                F.expr(
                    f"percentile({c}, 0.5)"
                    if relative_error == 0.0
                    else f"approx_percentile({c}, 0.5, {int(1 / relative_error)})"
                ).alias(c)
                for c in numeric_cols
            ]
        ).first()
        fills = {c: medians[c] for c in numeric_cols if medians[c] is not None}
        if fills:
            df = df.na.fill(fills)
    if string_cols:
        df = df.na.fill(string_token, subset=string_cols)
    return df


def interpolate_linear(
    df: DataFrame,
    cols: Iterable[str],
    order_by: list[str],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """pandas df.interpolate(method="linear") parity (ref :88-89).

    Per ordered partition: nulls between two non-null neighbors get the
    row-distance-weighted linear value; leading nulls stay null and
    trailing nulls take the last value (pandas' forward limit
    direction).  Window-only — no applyInPandas — so it distributes.
    """
    part = partition_by or []
    order_cols = [F.col(c).asc() for c in order_by]
    w_ord = Window.partitionBy(*part).orderBy(*order_cols)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    df = df.withColumn("__rn", F.row_number().over(w_ord))
    for c in cols:
        rn_if = F.when(F.col(c).isNotNull(), F.col("__rn"))
        prev_v = F.last(F.col(c), ignorenulls=True).over(w_prev)
        next_v = F.first(F.col(c), ignorenulls=True).over(w_next)
        prev_rn = F.last(rn_if, ignorenulls=True).over(w_prev)
        next_rn = F.first(rn_if, ignorenulls=True).over(w_next)
        interpolated = prev_v + (next_v - prev_v) * (
            (F.col("__rn") - prev_rn) / (next_rn - prev_rn)
        )
        df = df.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c))
            .when(prev_v.isNull(), F.lit(None))
            .when(next_v.isNull(), prev_v)
            .otherwise(interpolated),
        )
    return df.drop("__rn")


def handle_missing_values(
    df: DataFrame,
    strategy: str = "drop",
    columns: list[str] | None = None,
    fill_value=None,
    fill_method: str | None = None,
    order_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """The reference's single-entry dispatcher (cleaners.py:46-100):
    strategy ∈ {drop, fill, interpolate}, fill_method ∈ {ffill, bfill}.

    Order-sensitive strategies (ffill/bfill/interpolate) additionally
    require ``order_by`` — pandas' implicit row order has no
    distributed equivalent (SURVEY §7.4.1)."""
    if strategy == "drop":
        return drop_missing(df, subset=columns)
    if strategy == "fill":
        if fill_method in ("ffill", "bfill"):
            if not order_by:
                raise ValueError(f"{fill_method} requires order_by columns")
            return fill_directional(
                df,
                columns or df.columns,
                order_by=order_by,
                partition_by=partition_by,
                direction="forward" if fill_method == "ffill" else "backward",
            )
        if fill_value is not None:
            return fill_constant(df, fill_value, columns)
        if columns is None:
            return fill_default(df)
        numeric_types = (T.DoubleType, T.FloatType, T.IntegerType, T.LongType)
        numeric = [
            c for c in columns if isinstance(df.schema[c].dataType, numeric_types)
        ]
        strings = [
            c for c in columns if isinstance(df.schema[c].dataType, T.StringType)
        ]
        return fill_default(df, numeric_cols=numeric, string_cols=strings)
    if strategy == "interpolate":
        if not order_by:
            raise ValueError("interpolate requires order_by columns")
        return interpolate_linear(
            df, columns or df.columns, order_by=order_by, partition_by=partition_by
        )
    raise ValueError(f"strategy must be drop|fill|interpolate, got {strategy!r}")


# ---------------------------------------------------------------------------
# Deduplication (ref cleaners.py:102-130; D1-D5)
# ---------------------------------------------------------------------------


def remove_duplicates(
    df: DataFrame,
    subset: list[str] | None = None,
    keep: str | bool = "first",
    order_by: list[str] | None = None,
) -> DataFrame:
    """Deterministic drop_duplicates(subset, keep) (ref :102-130).

    pandas keep="first"/"last" depends on physical row order; the
    distributed equivalent requires an explicit ``order_by`` tiebreak.
    With keep=False, rows whose key occurs more than once are dropped
    entirely.  Without order_by, falls back to Spark's dropDuplicates
    (arbitrary survivor — documented divergence, SURVEY §7.4.1).

    Plan shape: one hash exchange on ``subset`` + in-partition sort →
    row_number filter; at scale this is the same shuffle an aggregation
    on the dedup key would need, with AQE handling skewed keys.
    """
    subset = subset or df.columns
    if keep is False:
        w = Window.partitionBy(*subset)
        return (
            df.withColumn("__key_count", F.count(F.lit(1)).over(w))
            .filter(F.col("__key_count") == 1)
            .drop("__key_count")
        )
    if order_by is None:
        return df.dropDuplicates(subset)
    ordering = [F.col(c).asc() for c in order_by]
    if keep == "last":
        ordering = [F.col(c).desc() for c in order_by]
    elif keep != "first":
        raise ValueError(f"keep must be 'first', 'last' or False, got {keep!r}")
    w = Window.partitionBy(*subset).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Timestamps (ref cleaners.py:132-172)
# ---------------------------------------------------------------------------


def discover_timestamp_columns(df: DataFrame) -> list[str]:
    """Name-pattern discovery (ref :292-295): any column whose name
    contains 'timestamp' or 'date' (plus common suffixes)."""
    out = []
    for c in df.columns:
        lc = c.lower()
        if any(p in lc for p in ("timestamp", "date")) or lc.endswith(("_at", "_ts")):
            out.append(c)
    return out


def coerce_timestamps(
    df: DataFrame,
    cols: Iterable[str] | None = None,
    fmt: str | None = None,
) -> DataFrame:
    """pd.to_datetime(errors="coerce") parity (ref :159): unparseable
    strings become null instead of raising.  Already-timestamp columns
    pass through; tz handling is session-level UTC (ref :162-163).

    try_to_timestamp (not to_timestamp): under ANSI mode — the Spark 4
    default, and whatever conf the caller's session has — plain
    to_timestamp *throws* on unparseable input; try_to_timestamp is
    null-on-failure regardless of session conf."""
    cols = list(cols) if cols is not None else discover_timestamp_columns(df)
    for c in cols:
        dtype = df.schema[c].dataType
        if isinstance(dtype, (T.TimestampType, T.DateType)):
            continue
        df = df.withColumn(
            c,
            F.try_to_timestamp(F.col(c), F.lit(fmt))
            if fmt
            else F.try_to_timestamp(F.col(c)),
        )
    return df


def ts_diff_hours(end: Column | str, start: Column | str, scale: int = 2) -> Column:
    """delivery_duration_hours (ref :312-322): (end-start).total_seconds()/3600
    rounded.  Double casts keep sub-second precision (unix_timestamp
    would truncate to seconds — SURVEY §7.4.3)."""
    end_c = F.col(end) if isinstance(end, str) else end
    start_c = F.col(start) if isinstance(start, str) else start
    # TIMESTAMP_NTZ (how Spark 4 reads non-UTC-adjusted parquet stamps)
    # has no direct double cast; route through TIMESTAMP (session tz is
    # UTC, so the instant is unchanged) then to fractional epoch seconds.
    to_sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
    return exact_round((to_sec(end_c) - to_sec(start_c)) / F.lit(3600.0), scale)


# ---------------------------------------------------------------------------
# Strings (ref cleaners.py:174-215)
# ---------------------------------------------------------------------------


def normalize_strings(
    df: DataFrame,
    cols: Iterable[str] | None = None,
    case: str | None = "lower",
    trim: bool = True,
) -> DataFrame:
    """strip + lower/upper/title on string columns (ref :197-207)."""
    if cols is None:
        cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
    case_fn = {
        "lower": F.lower,
        "upper": F.upper,
        "title": F.initcap,
        None: lambda c: c,
    }[case]
    for c in cols:
        expr = F.col(c)
        if trim:
            expr = F.trim(expr)
        df = df.withColumn(c, case_fn(expr))
    return df


# ---------------------------------------------------------------------------
# Derived columns (ref cleaners.py:217-255, 420-425)
# ---------------------------------------------------------------------------


def safe_ratio(
    numerator: Column | str, denominator: Column | str, scale: int = 4
) -> Column:
    """freight/price with price=0 → null (ref :420-425).  The explicit
    zero guard reproduces pandas' replace(0, NaN) semantics instead of
    relying on division behavior."""
    num = F.col(numerator) if isinstance(numerator, str) else numerator
    den = F.col(denominator) if isinstance(denominator, str) else denominator
    return exact_round(num / F.when(den == 0, F.lit(None)).otherwise(den), scale)


def with_derived(
    df: DataFrame,
    metrics: Mapping[str, Column],
    on_error: str = "skip",
) -> DataFrame:
    """Derived-column map with per-metric error tolerance (ref :217-255):
    a metric whose expression fails analysis is skipped (logged by the
    caller) rather than failing the batch."""
    for name, expr in metrics.items():
        try:
            candidate = df.withColumn(name, expr)
            candidate.schema  # force analysis so bad expressions surface now
            df = candidate
        except Exception:
            if on_error == "raise":
                raise
    return df
