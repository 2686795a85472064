"""Oracle-checked query entries for the cleaning operator library.

Each builder exercises one operator family from SURVEY §2.2/§2.3 over
the driver's star schema (role mapping in FIXTURES.md §7) and has a
DuckDB-equivalent oracle in ORACLES.  The events.value column has no
natural nulls, so null-handling entries mask a deterministic subset
(event_type='view' → null) first — same masking in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions import exact_round, sql_exact_round
from ..operators import cleaners

# --- D1-D5: deterministic dedup -------------------------------------------

DEDUP_KEY = ["l_orderkey", "l_partkey"]
DEDUP_ORDER = ["l_linenumber", "l_suppkey"]


_DEDUP_PROJ = """
l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
"""

DEDUP_KEEP_FIRST_SQL = f"""
SELECT {_DEDUP_PROJ} FROM (
  SELECT *, row_number() OVER (
      PARTITION BY l_orderkey, l_partkey
      ORDER BY l_linenumber, l_suppkey) AS rn
  FROM lineitem
) WHERE rn = 1
"""

DEDUP_KEEP_LAST_SQL = f"""
SELECT {_DEDUP_PROJ} FROM (
  SELECT *, row_number() OVER (
      PARTITION BY l_orderkey, l_partkey
      ORDER BY l_linenumber DESC, l_suppkey DESC) AS rn
  FROM lineitem
) WHERE rn = 1
"""

DEDUP_DROP_ALL_SQL = f"""
SELECT {_DEDUP_PROJ} FROM (
  SELECT *, count(*) OVER (PARTITION BY l_orderkey, l_partkey) AS kc
  FROM lineitem
) WHERE kc = 1
"""


def dedup_variants_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D2 in one driver-checked result: keep-first, keep-last and
    drop-all-duplicates over the same key, tagged and unioned — every
    variant's full output is hash-verified in a single registry slot.
    Each branch is the one-shuffle row_number/count window plan."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    first = cleaners.remove_duplicates(li, DEDUP_KEY, "first", DEDUP_ORDER)
    last = cleaners.remove_duplicates(li, DEDUP_KEY, "last", DEDUP_ORDER)
    none = cleaners.remove_duplicates(li, DEDUP_KEY, False)
    return (
        first.withColumn("variant", F.lit("keep_first"))
        .unionByName(last.withColumn("variant", F.lit("keep_last")))
        .unionByName(none.withColumn("variant", F.lit("drop_all")))
    )


DEDUP_VARIANTS_SQL = f"""
SELECT *, 'keep_first' AS variant FROM ({DEDUP_KEEP_FIRST_SQL})
UNION ALL
SELECT *, 'keep_last' AS variant FROM ({DEDUP_KEEP_LAST_SQL})
UNION ALL
SELECT *, 'drop_all' AS variant FROM ({DEDUP_DROP_ALL_SQL})
"""

# --- P2-P6: missing-value strategies --------------------------------------


def _masked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )


_MASKED_EVENTS_SQL = """
SELECT event_id, user_id, ts, event_type,
       CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value
FROM events
"""


def drop_missing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleaners.drop_missing(_masked_events(spark, sf_dir), subset=["value"])


DROP_MISSING_SQL = f"""
SELECT * FROM ({_MASKED_EVENTS_SQL}) WHERE value IS NOT NULL
"""


def fill_strategies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P5 in one driver-checked result: constant fill and exact-
    median fill applied to twin copies of the masked column — both
    strategies' full outputs hash-verified in one registry slot."""
    df = _masked_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("value").alias("value_constant"),
        F.col("value").alias("value_median"),
    )
    df = cleaners.fill_constant(df, 0.0, ["value_constant"])
    return cleaners.fill_default(df, numeric_cols=["value_median"], string_cols=[])


FILL_STRATEGIES_SQL = f"""
WITH masked AS ({_MASKED_EVENTS_SQL}),
m AS (SELECT quantile_cont(value, 0.5) AS med FROM masked)
SELECT event_id, user_id, ts, event_type,
       coalesce(value, 0.0) AS value_constant,
       coalesce(value, m.med) AS value_median
FROM masked, m
"""


def ffill_bfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 both directions in one driver-checked result: forward- and
    backward-fill over twin copies of the masked column, same explicit
    (ts, event_id) order — one registry slot, both outputs verified.
    Both directions share one Window exchange on user_id."""
    df = _masked_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("value").alias("value_ffill"),
        F.col("value").alias("value_bfill"),
    )
    df = cleaners.fill_directional(
        df, ["value_ffill"], order_by=["ts", "event_id"], partition_by=["user_id"]
    )
    return cleaners.fill_directional(
        df,
        ["value_bfill"],
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
        direction="backward",
    )


FFILL_BFILL_SQL = f"""
SELECT event_id, user_id, ts, event_type,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       first_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill
FROM ({_MASKED_EVENTS_SQL})
"""


def interpolate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 linear interpolation per user along (ts, event_id)."""
    df = _masked_events(spark, sf_dir)
    return cleaners.interpolate_linear(
        df, ["value"], order_by=["ts", "event_id"], partition_by=["user_id"]
    )


INTERPOLATE_SQL = f"""
WITH ord AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM ({_MASKED_EVENTS_SQL})
), w AS (
  SELECT *,
    last_value(value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY rn
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    last_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prn,
    first_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY rn
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nrn
  FROM ord
)
SELECT event_id, user_id, ts, event_type,
  CASE WHEN value IS NOT NULL THEN value
       WHEN pv IS NULL THEN NULL
       WHEN nv IS NULL THEN pv
       ELSE pv + (nv - pv) * ((rn - prn) / (nrn - prn))
  END AS value
FROM w
"""

# --- P7: timestamp coercion ------------------------------------------------


def coerce_timestamps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→timestamp with null-on-failure (pd.to_datetime errors=coerce):
    round-trip o_orderdate through a string, plus a deliberately
    unparseable column coerced to null."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    stringified = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts_str"),
        F.col("o_orderpriority").alias("bad_ts_str"),
    )
    coerced = cleaners.coerce_timestamps(
        stringified, cols=["order_ts_str", "bad_ts_str"], fmt="yyyy-MM-dd HH:mm:ss"
    )
    return coerced.select(
        "o_orderkey",
        F.col("order_ts_str").alias("order_ts"),
        F.col("bad_ts_str").alias("bad_ts"),
    )


COERCE_TIMESTAMPS_SQL = """
SELECT o_orderkey,
       try_strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS order_ts,
       try_strptime(o_orderpriority, '%Y-%m-%d %H:%M:%S') AS bad_ts
FROM orders
"""

# --- P8: string normalize ---------------------------------------------------


def normalize_strings_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trim + lower/upper/title; padding added first so trim has work."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    padded = c.select(
        "c_custkey",
        F.concat(F.lit("  "), F.col("c_name"), F.lit(" ")).alias("name_lower"),
        F.col("c_mktsegment").alias("segment_title"),
        F.col("c_name").alias("name_upper"),
    )
    out = cleaners.normalize_strings(padded, ["name_lower"], case="lower")
    out = cleaners.normalize_strings(out, ["segment_title"], case="title")
    return cleaners.normalize_strings(out, ["name_upper"], case="upper")


NORMALIZE_STRINGS_SQL = """
SELECT c_custkey,
       lower(trim('  ' || c_name || ' '))                         AS name_lower,
       upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
                                                                  AS segment_title,
       upper(trim(c_name))                                        AS name_upper
FROM customer
"""

# --- P9-P11: derived columns ------------------------------------------------


def derived_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-metric map: revenue/charge (per-row arithmetic), safe
    ratio with zero→null guard, timestamp-diff hours (double-cast, no
    second truncation)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    li, orders = t["lineitem"], t["orders"]
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
    return cleaners.with_derived(
        joined.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
            "o_orderdate",
        ),
        {
            "revenue": exact_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ),
            "charge": exact_round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ),
            "tax_discount_ratio": cleaners.safe_ratio("l_tax", "l_discount", 4),
            "ship_delay_hours": cleaners.ts_diff_hours("l_shipdate", "o_orderdate"),
        },
    ).drop("l_extendedprice", "l_discount", "l_tax", "l_shipdate", "o_orderdate")


DERIVED_LINEITEM_SQL = """
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
       {revenue} AS revenue,
       {charge} AS charge,
       {ratio} AS tax_discount_ratio,
       {hours} AS ship_delay_hours
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
""".format(
    revenue=sql_exact_round("l.l_extendedprice * (1 - l.l_discount)", 2),
    charge=sql_exact_round(
        "l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)", 2
    ),
    ratio=sql_exact_round(
        "l.l_tax / (CASE WHEN l.l_discount = 0 THEN NULL ELSE l.l_discount END)", 4
    ),
    hours=sql_exact_round(
        "(extract(epoch FROM l.l_shipdate) - extract(epoch FROM o.o_orderdate))"
        " / 3600.0",
        2,
    ),
)

# --- Validator engine (A3-A7, fused single pass) ---------------------------


def validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All rules fused into ONE aggregation pass (SURVEY §4.3)."""
    from ..operators.validators import DataValidator, Severity

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    v = (
        DataValidator("orders")
        .add_null_check("o_orderkey", severity=Severity.CRITICAL)
        .add_null_check("o_custkey")
        .add_unique_check("o_orderkey", severity=Severity.CRITICAL)
        .add_range_check("o_totalprice", min_value=0.0, max_value=1e9)
        .add_allowed_values("o_orderstatus", ["P", "O", "F"])
        .add_business_rule(
            "order_date_not_future",
            F.col("o_orderdate") <= F.lit("2026-01-01").cast("timestamp"),
            description="order date on or before 2026-01-01",
        )
    )
    return v.violation_counts(orders)


VALIDATE_ORDERS_SQL = """
SELECT
  count(*)::BIGINT                                              AS total_rows,
  count(CASE WHEN o_orderkey IS NULL THEN 1 END)::BIGINT        AS null_check_o_orderkey,
  count(CASE WHEN o_custkey IS NULL THEN 1 END)::BIGINT         AS null_check_o_custkey,
  (count(*) - count(DISTINCT o_orderkey))::BIGINT               AS unique_check_o_orderkey,
  count(CASE WHEN o_totalprice IS NOT NULL
              AND NOT (o_totalprice >= 0.0 AND o_totalprice <= 1000000000.0)
             THEN 1 END)::BIGINT                                AS range_check_o_totalprice,
  count(CASE WHEN NOT coalesce(o_orderstatus IN ('P', 'O', 'F'), FALSE)
             THEN 1 END)::BIGINT                                AS allowed_values_o_orderstatus,
  count(CASE WHEN NOT coalesce(o_orderdate <= TIMESTAMP '2026-01-01', FALSE)
             THEN 1 END)::BIGINT                                AS order_date_not_future
FROM orders
"""
