"""Scalar-function breadth queries: array/lambda functions (SURVEY
§2.7 completeness beyond the reference's narrow usage) and the SCD2
dimension-history operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables

# --- Array / lambda functions ----------------------------------------------


def array_functions_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array toolkit over tokenized text: sort/slice/position/contains
    plus lambda transform/filter/aggregate — the §2.7 family the
    training-data operators are built from, isolated and pinned."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        # string-joined, not a raw array column: keeps the driver's
        # value-hash free of engine-specific list representations
        F.concat_ws("|", F.slice(F.array_sort("t"), 1, 3)).alias("first3_sorted"),
        F.array_position(F.col("t"), "data").cast("long").alias("data_pos"),
        F.array_contains(F.col("t"), "spark").alias("has_spark"),
        F.size(F.filter(F.col("t"), lambda x: F.length(x) > 4)).alias("n_long_tokens"),
        F.aggregate(
            F.transform(F.col("t"), lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


ARRAY_FUNCTIONS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       array_to_string(list_sort(t)[1:3], '|') AS first3_sorted,
       coalesce(list_position(t, 'data'), 0)::BIGINT AS data_pos,
       list_contains(t, 'spark') AS has_spark,
       len(list_filter(t, x -> length(x) > 4)) AS n_long_tokens,
       list_reduce(list_prepend(0::BIGINT, list_transform(t, x -> length(x)::BIGINT)),
                   (a, b) -> a + b) AS total_chars
FROM t
"""

# --- Map-type round trip ----------------------------------------------------


def map_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType plumbing: aggregate per-type counts into ONE map column
    (map_from_entries over collected structs), then explode it back to
    rows — proving construction, storage, and lateral expansion of the
    map family the reference never used (SURVEY §1.2)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    as_map = counts.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return as_map.select(
        F.explode(F.col("m")).alias("event_type", "n_events")
    )


MAP_FUNCTIONS_SQL = """
SELECT event_type, count(*) AS n_events
FROM events GROUP BY event_type
"""

# --- SCD2 dimension history -------------------------------------------------

SCD2_CHANGE_TS = "2024-06-01 00:00:00"


def scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 apply: incoming changes close
    the current row (valid_to = change_ts) and open a new one; the
    reference's upsert (S13) keeps only latest state — SCD2 keeps
    history, the warehouse-grade variant.

    Deterministic demo: changes = every 20th customer moving to
    segment 'MIGRATED'.  Join-rewrite shape: unchanged ∪ closed ∪ new —
    three branches of one plan, no row-at-a-time logic."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    base_from = F.lit("1995-01-01 00:00:00").cast("timestamp")
    change_ts = F.lit(SCD2_CHANGE_TS).cast("timestamp")

    dim = c.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        base_from.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    changes = c.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", "c_name", F.lit("MIGRATED").alias("c_mktsegment")
    )

    unchanged = dim.join(changes.select("c_custkey"), "c_custkey", "left_anti")
    closed = (
        dim.join(changes.select("c_custkey"), "c_custkey", "left_semi")
        .withColumn("valid_to", change_ts)
    )
    opened = changes.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        change_ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


SCD2_CUSTOMER_SQL = f"""
WITH dim AS (
  SELECT c_custkey, c_name, c_mktsegment,
         TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
         NULL::TIMESTAMP AS valid_to
  FROM customer
),
changes AS (
  SELECT c_custkey, c_name, 'MIGRATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 20 = 0
)
SELECT d.* FROM dim d
WHERE NOT EXISTS (SELECT 1 FROM changes ch WHERE ch.c_custkey = d.c_custkey)
UNION ALL
SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.valid_from,
       TIMESTAMP '{SCD2_CHANGE_TS}' AS valid_to
FROM dim d
WHERE EXISTS (SELECT 1 FROM changes ch WHERE ch.c_custkey = d.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_mktsegment,
       TIMESTAMP '{SCD2_CHANGE_TS}' AS valid_from,
       NULL::TIMESTAMP AS valid_to
FROM changes
"""
