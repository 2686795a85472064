"""Guarded fan-out for compute-heavy passes over under-split inputs."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def spread_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin fan-out when the plan's leaf parallelism is below
    the session's default parallelism (optimization guide §2.5: "input
    skew: one huge unsplittable file ... repartition immediately after
    the read").

    Parquet split planning floors the split size at ``openCostInBytes``
    (4 MB) and cannot split inside a row group, so a small or
    single-row-group file plans as ONE scan task — and a downstream
    map-heavy pass (signature hashing, packed-codebook scoring, shingle
    explodes) then runs on one core of the whole cluster while every
    other core idles.  When that is the case, a round-robin
    ``repartition(defaultParallelism * factor)`` spreads the rows; the
    exchange only ever moves data small enough to have fit in one scan
    split, so its cost is bounded by one split's bytes.  At production
    scale the scan already plans ``>= defaultParallelism`` splits
    (``maxPartitionBytes``) and this returns the input UNCHANGED — the
    guard makes the fan-out scale-adaptive rather than a constant tuned
    for local mode.

    Callers must only use this where results are partitioning-
    insensitive: aggregations must be exact (integer / decimal-cast
    sums, min/max), no bare ``collect_list`` element order or
    ``first()``-without-order may reach the output.  Every current
    call site is hash-checked against the DuckDB oracle, which is the
    enforcement of that contract.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if target <= 1:
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception as exc:
        _log.warning(
            "spread_scan: could not plan the input's partitions (%s: %s);"
            " returning it without fan-out",
            type(exc).__name__,
            exc,
        )
        return df
    if current >= target:
        return df
    return df.repartition(target)
