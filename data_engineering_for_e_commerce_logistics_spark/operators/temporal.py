"""Temporal operators Spark lacks natively — as-of joins.

The as-of join (each left row matched to the latest right row with
right.time <= left.time per key) has no Spark primitive.  The
distributed-native construction is the union-and-carry trick:

    tag both sides → union on (key, time) → per-key window sorted by
    (time, side) carrying the last non-null right payload forward →
    keep left rows.

One shuffle on the key, one in-partition sort — the same cost as a
window aggregate, with none of the per-row range probing a naive
theta-join (`left.t >= right.t` + row_number) would do: Spark plans
that as a broadcast nested loop, O(|L|·|R|) per key.

Ref parity note: the reference has no as-of/range joins (SURVEY §2.4);
this is part of the engine's beyond-reference time-series surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_self_join(
    df: DataFrame,
    key: str,
    time_col: str,
    id_col: str,
    max_gap_seconds: float,
) -> DataFrame:
    """All (a, b) row pairs sharing ``key`` with
    0 <= time_b - time_a <= max_gap and (time, id)_a < (time, id)_b.

    A naive `ON a.t BETWEEN b.t AND b.t + gap` inequality join plans
    as a broadcast nested loop — O(|rows|²) per key.  The distributed
    form grids time into gap-width buckets and explodes one side to
    its 3 adjacent buckets: any qualifying pair differs by ≤1 bucket,
    so an equi-join on (key, bucket) finds each pair exactly once,
    then the exact time filter trims the grid slop.  Cost: 3× one
    side + a hash join on a short compound key."""
    sec = F.col(time_col).cast("timestamp").cast("double")
    bucket = F.floor(sec / F.lit(max_gap_seconds)).cast("long")

    a = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_a"),
        sec.alias("t_a"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("b"),
    )
    b = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_b"),
        sec.alias("t_b"),
        bucket.alias("b"),
    )
    gap = F.col("t_b") - F.col("t_a")
    ordered = (F.col("t_a") < F.col("t_b")) | (
        (F.col("t_a") == F.col("t_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        a.join(b, ["k", "b"])
        .filter(ordered & (gap >= 0) & (gap <= max_gap_seconds))
        .select(
            F.col("k").alias(key),
            "id_a",
            "id_b",
            (gap / F.lit(86400.0)).alias("gap_days"),
        )
        .distinct()
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row: the latest right row with
    right_time <= left_time (direction="backward"), or the earliest
    with right_time >= left_time ("forward"), matched per `on` key.

    right must be unique per (on, right_time) — pre-aggregate it if
    not, otherwise the carried row would be an arbitrary member of the
    tie.  Left columns are preserved; payload columns arrive as
    `asof_<name>` plus `asof_time`.
    """
    lcols = left.columns
    l = left.select(
        *lcols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in payload],
        F.lit(None).cast(right.schema[right_time].dataType).alias("__rt"),
    )
    r = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
        F.col(on),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__p_{c}") for c in payload],
        F.col(right_time).alias("__rt"),
    )
    u = l.unionByName(r)

    if direction == "backward":
        # right rows sort before left rows at equal time: a quote AT
        # the event time is visible to the event (<= semantics).
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carry = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    elif direction == "forward":
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__t").asc(), F.col("__is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carry = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        raise ValueError(f"direction must be backward|forward, got {direction}")

    carried = u.select(
        *u.columns,
        *[carry(F.col(f"__p_{c}")).alias(f"asof_{c}") for c in payload],
        carry(F.col("__rt")).alias("asof_time"),
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *lcols, *[f"asof_{c}" for c in payload], "asof_time"
    )


def event_funnel(
    df: DataFrame,
    steps: tuple[str, ...],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-step funnel conversion — the classic event-analytics
    readout (view → click → purchase): a user reaches step k when the
    steps occur in order at STRICTLY increasing timestamps, matched
    greedily (each step binds to its earliest admissible occurrence —
    provably the same set of users as the iterated
    min-after-previous-step relational construction, which is the
    DuckDB oracle's form).

    Returns one row per step: ``(step, name, n_users,
    conv_from_first, drop_from_prev)`` with the ratios 9dp-rounded
    (NULL when the previous stage is empty).

    100 TB shape: ONE shuffle on the user key — events are filtered
    to the step types at the scan, collected per user into a sorted
    (ts, type) array, and the greedy match is a codegen ``aggregate``
    fold over that array; the stage counts then collapse in a single
    conditional aggregate.  Per-user state is bounded by that user's
    step-event count (heavy-user skew shows up here and nowhere
    else); ties at equal timestamps do NOT advance the funnel in
    either engine (strict inequality)."""
    from ..functions import exact_round

    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    ev = df.where(F.col(type_col).isin(*steps)).select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__t"),
        F.col(type_col).alias("__e"),
    )
    per_user = ev.groupBy("__u").agg(
        F.array_sort(F.collect_list(F.struct("__t", "__e"))).alias("__a")
    )
    staged = per_user.select(
        F.aggregate(
            F.col("__a"),
            F.struct(
                F.lit(0).alias("stg"),
                F.lit(-(2**62)).cast("long").alias("last"),
            ),
            lambda acc, e: F.when(
                (acc["stg"] < k)
                & (
                    e["__e"]
                    == F.element_at(steps_arr, acc["stg"] + 1)
                )
                & (e["__t"] > acc["last"]),
                F.struct(
                    (acc["stg"] + 1).alias("stg"),
                    e["__t"].alias("last"),
                ),
            ).otherwise(acc),
        )["stg"].alias("__stg")
    )
    counts = staged.agg(
        *[
            # coalesce: a batch with NO step-type events at all gives
            # an empty per-user frame, where sum() is NULL but the
            # oracle's count(*) construction is 0 — hypothesis-found
            # r14 (every non-empty input sums 0/1 literals, never NULL)
            F.coalesce(
                F.sum(F.when(F.col("__stg") >= i + 1, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"__n{i + 1}")
            for i in range(k)
        ]
    )
    rows = []
    for i in range(1, k + 1):
        conv = F.when(
            F.col("__n1") > 0,
            exact_round(
                F.col(f"__n{i}").cast("double")
                / F.col("__n1").cast("double"),
                9,
            ),
        )
        prev = F.col(f"__n{i - 1}") if i > 1 else F.col("__n1")
        drop = F.when(
            prev > 0,
            exact_round(
                F.col(f"__n{i}").cast("double") / prev.cast("double"), 9
            ),
        )
        rows.append(
            F.struct(
                F.lit(i).cast("long").alias("step"),
                F.lit(steps[i - 1]).alias("name"),
                F.col(f"__n{i}").alias("n_users"),
                conv.alias("conv_from_first"),
                drop.alias("drop_from_prev"),
            )
        )
    return counts.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.*")
