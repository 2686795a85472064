"""Skew-aware aggregation — the 100 TB safety valve.

A groupBy on a skewed key (one customer with 10⁸ orders, one hot
event_type) concentrates a shuffle partition on one executor.  AQE's
skew-join splitting handles joins; for *aggregations* the classic fix
is salting: phase 1 aggregates on (key, salt) spreading the hot key
over N partitions, phase 2 combines the partials.  Only algebraic
aggregates (count/sum/min/max) decompose this way; avg = sum/count.

For most workloads Spark's map-side partial aggregation already
bounds skew (partials collapse before the shuffle); salting matters
when the *number of distinct groups per partition* is so large that
map-side combine stops collapsing (high-cardinality keys + hot key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, str] | None = None,
    count_alias: str = "n_rows",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase count/sum aggregation over salted keys.

    sums: {output_alias: column} sum aggregates to carry through both
    phases.  Result is identical to df.groupBy(keys).agg(...) — the
    salt only reshapes the shuffle.
    """
    sums = sums or {}
    # Per-ROW salt (monotonic id), not a hash of the key — hashing the
    # key would give every row of the hot key the same salt and change
    # nothing.  monotonically_increasing_id is deterministic per task.
    salted = df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(col).alias(f"__sum_{alias}") for alias, col in sums.items()],
    )
    return phase1.groupBy(*keys).agg(
        F.sum("__cnt").alias(count_alias),
        *[F.sum(f"__sum_{alias}").alias(alias) for alias in sums],
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-spreading equi-join: the skewed (big) side gets a per-ROW
    salt; the other side is replicated ``salt_buckets`` times via an
    explode, and the join runs on keys + salt — the hot key's rows land
    on N partitions instead of one.

    Result is identical to ``skewed.join(other, keys, how)`` for
    'inner' and 'left' joins (each skewed row still matches exactly the
    same other-side rows; the salt only reshapes the shuffle).  The
    other side grows ×salt_buckets, so use this when that side is the
    small-but-not-broadcastable one.  Prefer AQE's automatic skew-join
    split where it fires (sort-merge joins); manual salting is the form
    that also covers aggregation-free pipelines and fixed plans."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted = skewed.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return salted.join(replicated, keys + ["__salt"], how).drop("__salt")
