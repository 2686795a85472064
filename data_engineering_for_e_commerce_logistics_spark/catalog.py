"""Named-table catalog over a parquet directory.

The reference passes a ``dict[str, pd.DataFrame]`` between pipeline
stages (src/main.py:144-214).  The Spark-native equivalent is the
session catalog: each entity becomes a temp view, every downstream
operator addresses tables by name, and Catalyst sees one composed
plan per query instead of eagerly materialized stage outputs.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Star-schema tables generated by the driver (TESTDATA.md) plus the
# extended-ops tables.  Missing files are tolerated, mirroring the
# reference's skip-with-warning multi-table scan (csv_loader.py:187-215).
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


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (Spark reads them as
    LongType under spark.sql.legacy.parquet.nanosAsLong)."""
    schema = pq.read_schema(path)
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


# Lazy scan-plan memo: one DataFrame handle per (application, session,
# path).  ``spark.read.parquet`` costs ~80-100ms of driver work per
# call (file listing + footer schema inference + plan construction),
# and the bench re-builds every query several times — measured 1.7s
# per default load_tables() call, i.e. a large constant tax on every
# query (optimization guide §1.2: remove work you throw away).  The
# memo holds UNEVALUATED plans only — every action still scans the
# parquet files; nothing about results or data is cached — exactly
# the semantics of registering the table as a temp view once (this
# module's stated design).  Keyed by applicationId AND id(session) so
# a new session/app never sees a stale handle; all engine/test callers
# read immutable input directories through this path (mutable sink
# outputs are read via spark.read directly).
_SCAN_CACHE: dict[tuple[str, int, str], DataFrame] = {}


def clear_scan_cache() -> None:
    """Drop every memoized scan plan (ADVICE r13 escape hatch): a
    caller about to re-read a path whose FILE SET may have changed
    within the same session (appends, rewrites) clears the memo so the
    next ``read_parquet_table`` re-lists the directory.  All current
    engine callers read immutable input directories, and sink outputs
    go through ``spark.read`` directly — this exists so a future
    mutable-path caller fails loudly in review rather than silently
    reading a stale file listing."""
    _SCAN_CACHE.clear()


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with lossless nanosecond-timestamp restoration.

    ns-since-epoch (~1.7e18) exceeds double's 2^53 integer range, so the
    conversion must stay integral: `div 1000` then timestamp_micros —
    the same ns→µs truncation DuckDB applies, keeping the oracle exact.

    The returned plan's parquet file listing is resolved at first
    read; re-reading a directory MUTATED within the same session
    requires ``clear_scan_cache()`` first (input tables here are
    immutable; mutable sink outputs must use ``spark.read``).
    """
    app_id = spark.sparkContext.applicationId
    key = (app_id, id(spark), path)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        # Runtime-settable; the driver's bare SparkSession won't have it,
        # so set it here rather than relying on session-build config.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    # Evict entries from other applications (ADVICE r13: a DataFrame
    # pins its SparkSession, so dead-session entries would otherwise
    # retain the stopped JVM handles until the wholesale clear).
    stale = [k for k in _SCAN_CACHE if k[0] != app_id]
    for k in stale:
        del _SCAN_CACHE[k]
    if len(_SCAN_CACHE) > 512:  # bounded: sessions × tables is small
        _SCAN_CACHE.clear()
    _SCAN_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read every ``{sf_dir}/{name}.parquet`` that exists.

    Returns a name->DataFrame dict; the frames are lazy parquet scans,
    so this is metadata-only work.
    """
    from .fsio import fs_exists, fs_join

    out: dict[str, DataFrame] = {}
    for name in tables:
        path = fs_join(sf_dir, f"{name}.parquet")
        if fs_exists(spark, path):
            out[name] = read_parquet_table(spark, path)
    if not out:
        raise FileNotFoundError(
            f"no parquet tables found under {sf_dir!r} (looked for {tables})"
        )
    return out


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """load_tables + createOrReplaceTempView for each, enabling spark.sql."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
