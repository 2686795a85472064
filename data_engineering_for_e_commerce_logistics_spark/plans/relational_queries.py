"""Relational / aggregate / profiling query entries (SURVEY §2.1
S9/S13/S16-17, §2.5 A3-A9, §2.6 sorts+limits, §2.7 scalar families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions import (
    exact_avg,
    exact_round,
    sql_exact_avg,
    sql_exact_round,
    sql_exact_sum,
)

# --- S9: data profiler ------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile (row count, nulls, distincts, min/max/avg) in
    long format.  A lazy plan: ``build()`` runs no Spark job.

    Plan shape: the algebraic stats fuse into ONE aggregation pass.
    The four EXACT distinct counts share one more pass: each row emits
    a (column index, value) pair per profiled column (``inline``, a
    Generate), NULLs drop, partial aggregation dedups the pairs per
    partition before the exchange, and one count per index follows;
    the 1-row result is cross-joined back as a broadcast.  Never put
    ``countDistinct`` in the fused agg: Catalyst lowers it to an
    Expand that carries every aggregate's inputs through the
    exchange.  The single wide row is unpivoted in the plan by
    ``inline`` over one struct per column, so the profile never
    round-trips through the driver.  Over an empty lineitem the global
    aggregates still give their one row: counts 0, min/max/avg NULL.

    Ref: csv_loader.py:217-258 profile_data (dict-of-dicts shape)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("double").alias(f"{c}__min"),
            F.max(F.col(c)).cast("double").alias(f"{c}__max"),
            exact_avg(c, 6).alias(f"{c}__avg"),
        ]
    # the profiled columns are doubles, so one value type holds them all
    pairs = ", ".join(
        f"named_struct('i', {i}, 'v', CAST({c} AS DOUBLE))"
        for i, c in enumerate(_PROFILE_COLS)
    )
    distinct = (
        li.select(F.expr(f"inline(array({pairs}))"))
        .where(F.col("v").isNotNull())  # count(DISTINCT c) excludes NULL
        .distinct()
        .agg(
            *[
                F.count(F.when(F.col("i") == i, 1)).alias(f"{c}__distinct")
                for i, c in enumerate(_PROFILE_COLS)
            ]
        )
    )
    profile = li.agg(*aggs).crossJoin(F.broadcast(distinct))
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
            F.col(f"{c}__avg").alias("avg_value"),
        )
        for c in _PROFILE_COLS
    ]
    return profile.select(F.inline(F.array(*per_col)))


PROFILE_LINEITEM_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::DOUBLE AS min_value, max({c})::DOUBLE AS max_value,
       {sql_exact_avg(c, 6)} AS avg_value
FROM lineitem"""
    for c in _PROFILE_COLS
)

# --- A5/A6: distinct + duplicate counts ------------------------------------


def agg_cardinality_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct / duplicate accounting.  Same r05 rewrite as
    ``profile_lineitem``: three ``countDistinct`` in one agg would
    lower to a 4-way Expand (4× exchange volume; measured 1.9×
    slower at sf0.1) — instead each exact distinct is its own
    column-pruned pre-aggregated job joined back as a 1-row
    broadcast."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    base = li.agg(F.count(F.lit(1)).alias("n_rows"))
    # single-column distincts filter NULL first: the oracle's
    # count(DISTINCT c) is null-excluding (ADVICE r05).  The composite
    # job keeps nulls — count(DISTINCT (a, b)) counts null-bearing
    # tuples because a ROW with null fields is itself non-null.
    o = (
        li.select("l_orderkey")
        .where(F.col("l_orderkey").isNotNull())
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    p = (
        li.select("l_partkey")
        .where(F.col("l_partkey").isNotNull())
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    k = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_distinct_keys"))
    )
    return (
        base.crossJoin(F.broadcast(o))
        .crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(k))
        .withColumn(
            "n_duplicate_rows", F.col("n_rows") - F.col("n_distinct_keys")
        )
    )


AGG_CARDINALITY_SQL = """
SELECT count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT (l_orderkey, l_partkey)) AS n_distinct_keys,
       count(*) - count(DISTINCT (l_orderkey, l_partkey)) AS n_duplicate_rows
FROM lineitem
"""

# --- TPC-H Q1-style pricing summary (the bench headline aggregation) -------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shaped rollup: full lineitem scan → 4-group hash aggregate.
    Map-side partial aggregation collapses 60k→8 rows before shuffle."""
    from ..functions import spread_scan

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # the partial aggregation's decimal math runs in the scan stage,
    # which plans ONE effective task on a single-row-group file —
    # spread an under-split scan first (guide §2.5; no-op at scale,
    # where the scan splits by maxPartitionBytes); every aggregate
    # here is decimal-exact, so partitioning cannot shift a bit
    return (
        spread_scan(
            li.filter(
                F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
            )
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(
                "cast(round(sum(cast((l_quantity) as decimal(28,8))), 2)"
                " as double)"
            ).alias("sum_qty"),
            F.expr(
                "cast(round(sum(cast((l_extendedprice) as decimal(28,8))), 2)"
                " as double)"
            ).alias("sum_base_price"),
            F.expr(
                "cast(round(sum(cast((l_extendedprice * (1 - l_discount))"
                " as decimal(28,8))), 2) as double)"
            ).alias("sum_disc_price"),
            F.expr(
                "cast(round(sum(cast((l_extendedprice * (1 - l_discount)"
                " * (1 + l_tax)) as decimal(28,8))), 2) as double)"
            ).alias("sum_charge"),
            exact_avg("l_quantity", 6).alias("avg_qty"),
            exact_avg("l_extendedprice", 6).alias("avg_price"),
            exact_avg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       cast(round(sum(cast((l_quantity) as decimal(28,8))), 2) as double)
           AS sum_qty,
       cast(round(sum(cast((l_extendedprice) as decimal(28,8))), 2) as double)
           AS sum_base_price,
       cast(round(sum(cast((l_extendedprice * (1 - l_discount)) as decimal(28,8))), 2)
           as double) AS sum_disc_price,
       cast(round(sum(cast((l_extendedprice * (1 - l_discount) * (1 + l_tax))
           as decimal(28,8))), 2) as double) AS sum_charge,
       {sql_exact_avg("l_quantity", 6)} AS avg_qty,
       {sql_exact_avg("l_extendedprice", 6)} AS avg_price,
       {sql_exact_avg("l_discount", 6)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# --- Sort + limit (top-K) ---------------------------------------------------


def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-25 by value: Spark plans this as per-partition
    TakeOrdered (no full sort/shuffle of the table)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(
        25
    )


TOP_ORDERS_SQL = """
SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""

# --- S13: MERGE-style upsert (join rewrite over immutable storage) ---------


def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet: target rows not in the
    update set survive (left_anti), updates win (union).  The
    reference's row-by-row upsert loop (db_loader.py:347-387) becomes
    one set-oriented join — SURVEY §4.2's required rewrite."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", exact_round(F.col("o_totalprice") * 1.1, 2)
    )
    merged = o.join(updates, "o_orderkey", "left_anti").unionByName(updates)
    return merged


UPSERT_ORDERS_SQL = f"""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         {sql_exact_round("o_totalprice * 1.1", 2)} AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT * FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
UNION ALL
SELECT * FROM updates
"""

def upsert_bloom_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-split MERGE invariance twin (the r04 rotation note's
    candidate, now registered): identical semantics to
    ``upsert_orders`` but the target⟕anti⟕updates leg routes through
    ``operators.bloom.bloom_anti_join`` — target rows missing the
    update-batch's bloom are provably unmatched and bypass the anti
    join's exchange.  The oracle is the PLAIN MERGE SQL, so the green
    hash is a driver proof that the bloom split never changes results
    (the salted_rollup precedent: driver-proving an internal shuffle
    optimization is semantics-free).  2^18 bits ≈ 12 bits/key for the
    sf0.1 update batch (~21 K keys) keeps fp under 1%."""
    from ..operators.bloom import bloom_anti_join

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    updates = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", exact_round(F.col("o_totalprice") * 1.05, 2)
    )
    unmatched = bloom_anti_join(o, updates, "o_orderkey", num_bits=1 << 18)
    return unmatched.unionByName(updates)


UPSERT_BLOOM_SQL = f"""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         {sql_exact_round("o_totalprice * 1.05", 2)} AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT * FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
UNION ALL
SELECT * FROM updates
"""


# --- J4: FK referential actions (cascade delete) ---------------------------


def cascade_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON DELETE CASCADE propagated to the child relation (reference
    schema.sql:112-114): deleting all 'P'-status orders removes their
    lineitem rows.  Join rewrite: one anti-join on the FK, deleted key
    set broadcast when small."""
    from ..sources.sinks import cascade_delete

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    deleted = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return cascade_delete(t["lineitem"], deleted, ["l_orderkey"], mode="cascade")


CASCADE_DELETE_SQL = """
SELECT l.* FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'P'
)
"""

# --- S16: parameterized SQL → DataFrame ------------------------------------

SQL_API_PARAMS_TEXT = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
WHERE o_orderstatus = :status AND o_totalprice >= :min_total
"""

SQL_API_PARAMS_ARGS = {"status": "F", "min_total": 50000.0}


def sql_api_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's parameterized query path (db_loader.py:415-427
    ``query(sql, params)`` binding ``:name`` params) on Spark's native
    ``spark.sql(sql, args=...)`` — bound server-side by Catalyst, no
    string interpolation.  Also exercises the raw SQL→DataFrame S16
    surface."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(SQL_API_PARAMS_TEXT, args=SQL_API_PARAMS_ARGS)


SQL_API_PARAMS_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
"""

# --- JSON extraction (S2-S4 nested access over string payloads) ------------


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


JSON_EXTRACT_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""

# --- Explode / UNNEST (S3) --------------------------------------------------


def explode_document_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST: one row per (doc, token) for a deterministic doc subset."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


EXPLODE_TOKENS_SQL = """
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents WHERE doc_id < 20
"""

# --- Window: running totals & ranking (engine extension of §2.6) -----------


def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend along order time — the canonical
    window plan (one hash exchange on the partition key + sort)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        exact_round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
    )


CUSTOMER_RUNNING_SPEND_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderdate,
       {sql_exact_round(
           "sum(o_totalprice) OVER (PARTITION BY o_custkey"
           " ORDER BY o_orderdate, o_orderkey"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)}
           AS running_spend,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""

# --- Tumbling-window rollup (batch twin of the streaming path) -------------


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling aggregate over the event stream table — the
    exact batch semantics the Structured Streaming path produces per
    window once the watermark closes it."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr(
                "cast(round(sum(cast((value) as decimal(28,8))), 2) as double)"
            ).alias("sum_value"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       cast(round(sum(cast((value) as decimal(28,8))), 2) as double) AS sum_value
FROM events
GROUP BY 1, 2
"""

# --- Session windows (batch twin of streaming.sessionize) ------------------

SESSION_GAP_SEC = 1800


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user via Spark's session_window, run in
    batch mode — the oracle proves it against the classic
    gaps-and-islands SQL (lag → new-session flag → running sum →
    group).  Session end = last event + gap (Spark's semantics)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "cast(round(sum(cast((value) as decimal(28,8))), 2) as double)"
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


EVENTS_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR extract(epoch FROM ts)
                  - extract(epoch FROM lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id))
                  >= {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_SEC} SECOND AS session_end,
       count(*) AS n_events,
       cast(round(sum(cast((value) as decimal(28,8))), 2) as double) AS sum_value
FROM numbered
GROUP BY user_id, session_id
"""

# --- Multimodal binary columns (oracle-checked plumbing) -------------------


def binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column path: encode text → binary payload, then
    byte-length + hex-prefix features, all JVM-side.  (The Pandas-UDF
    decode stages are exercised in tests/test_multimodal.py; this entry
    pins the binary schema + deterministic byte math with an oracle.)"""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return media.select(
        "media_id",
        F.expr("octet_length(payload)").alias("n_bytes"),
        F.lower(F.substring(F.hex(F.col("payload")), 1, 16)).alias("head_hex"),
    )


BINARY_FEATURES_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       lower(substr(hex(encode(text)), 1, 16)) AS head_hex
FROM documents
"""

# --- Struct flatten (S2/S4 shapes over relational data) --------------------


def struct_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the API connector's nested shape (rating struct, address
    struct) from flat columns, then flattens it back with nested field
    access — proving the S2/S4 plumbing on deterministic data."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    nested = p.select(
        "p_partkey",
        F.struct(
            F.col("p_retailprice").alias("rate"), F.col("p_size").alias("count")
        ).alias("rating"),
        F.struct(
            F.col("p_brand").alias("brand"),
            F.struct(F.col("p_type").alias("type")).alias("geo"),
        ).alias("address"),
    )
    return nested.select(
        "p_partkey",
        F.col("rating.rate").alias("rating_rate"),
        F.col("rating.count").alias("rating_count"),
        F.col("address.brand").alias("brand"),
        F.col("address.geo.type").alias("type_name"),
    )


STRUCT_FLATTEN_SQL = """
SELECT p_partkey,
       p_retailprice AS rating_rate,
       p_size        AS rating_count,
       p_brand       AS brand,
       p_type        AS type_name
FROM part
"""


# --- Fixed-width histogram profile (S9 profiler breadth) --------------------

HIST_N_BINS = 20


def histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of o_totalprice: global min/max ride along
    as a broadcast 1-row aggregate (never a driver round-trip), each
    row computes its bin with the same double arithmetic both engines
    run, and one hash-agg counts per bin.  Two scans OR one scan + tiny
    recompute — at 100 TB, feed min/max from table statistics instead;
    the binning pass itself is a single shuffle on ≤ n_bins keys.

    Bin edges are decimal-rounded in the OUTPUT only; bin membership
    uses the raw doubles so edge rows cannot flip bins cross-engine."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    stats = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(HIST_N_BINS))
    # try_divide: a single distinct price (width 0) bins as NULL, which
    # least() skips — the last bin, as in DuckDB — instead of raising
    # ANSI DIVIDE_BY_ZERO
    binned = (
        o.select("o_totalprice")
        .crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.lit(HIST_N_BINS - 1),
                F.floor(F.try_divide(F.col("o_totalprice") - F.col("lo"), width)).cast(
                    "int"
                ),
            )
            .cast("long")
            .alias("bin"),
            F.col("lo"),
            width.alias("w"),
        )
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("lo").alias("lo"),
            F.first("w").alias("w"),
        )
        .select(
            "bin",
            exact_round(F.col("lo") + F.col("bin") * F.col("w"), 4).alias("bin_lo"),
            exact_round(F.col("lo") + (F.col("bin") + 1) * F.col("w"), 4).alias(
                "bin_hi"
            ),
            "n",
        )
    )


HISTOGRAM_ORDERS_SQL = f"""
WITH stats AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT least({HIST_N_BINS - 1},
               floor((o.o_totalprice - s.lo) / ((s.hi - s.lo) / {HIST_N_BINS}.0))::INT
         )::BIGINT AS bin,
         s.lo AS lo, (s.hi - s.lo) / {HIST_N_BINS}.0 AS w
  FROM orders o CROSS JOIN stats s
)
SELECT bin,
       {{lo_expr}} AS bin_lo,
       {{hi_expr}} AS bin_hi,
       count(*) AS n
FROM binned
GROUP BY bin, lo, w
""".format(
    lo_expr=sql_exact_round("lo + bin * w", 4),
    hi_expr=sql_exact_round("lo + (bin + 1) * w", 4),
)


# --- Incremental view maintenance (aggregate refresh from a delta) ----------
#
# The pattern every large-scale serving pipeline needs: a materialized
# per-key aggregate updated from a CHANGE batch instead of a full
# recompute.  Deterministic stand-in delta: orders with
# o_orderkey % 101 == 0 get their price revised ×1.1.  The maintained
# aggregate = base aggregate + per-key delta of (new - old) — the
# classic retraction/delta form (dF = F(new) - F(old)); decimal
# addition is exact and associative, so the maintained result equals
# the full recompute BIT-FOR-BIT (the oracle does the recompute).
#
# Scale shape: the base aggregate is one hash aggregate over the fact
# table (in production it is an already-materialized table — zero
# cost); the delta path shuffles ONLY the changed keys.  The merge is
# a key-partitioned outer join of aggregate-sized tables.

IVM_DELTA_MOD = 101
IVM_PRICE_FACTOR = 1.1


def ivm_spend_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    is_delta = F.col("o_orderkey") % IVM_DELTA_MOD == 0
    # base view state: per-customer count + UNROUNDED exact decimal sum
    base = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("cast(o_totalprice as decimal(28,8))")).alias("spend_dec"),
    )
    # delta batch: only the changed rows, aggregated as retractions
    delta = (
        o.filter(is_delta)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr(
                    f"cast(o_totalprice * {IVM_PRICE_FACTOR} as decimal(28,8))"
                    " - cast(o_totalprice as decimal(28,8))"
                )
            ).alias("dspend")
        )
    )
    return (
        base.join(delta, "o_custkey", "left")
        .select(
            "o_custkey",
            "n_orders",
            F.expr(
                "cast(round(spend_dec + coalesce(dspend, 0), 2) as double)"
            ).alias("total_spend"),
        )
    )


IVM_SPEND_REFRESH_SQL = f"""
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       cast(round(sum(CASE WHEN o_orderkey % {IVM_DELTA_MOD} = 0
                  THEN cast(o_totalprice * {IVM_PRICE_FACTOR} as decimal(28,8))
                  ELSE cast(o_totalprice as decimal(28,8)) END), 2) as double)
         AS total_spend
FROM orders
GROUP BY o_custkey
"""


# --- Salted two-phase aggregation as a contract query -----------------------


def salted_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event rollup routed through the SALTED two-phase
    aggregate (``operators.skew.salted_aggregate``): phase 1 groups on
    (key, per-row salt) spreading any hot key over 16 partitions,
    phase 2 combines the partials.  The oracle is the PLAIN group-by —
    the whole point is that salting only reshapes the shuffle, never
    the result, and the sum rides in decimal so two-phase re-addition
    is exact (double sums would drift with addition order)."""
    from ..operators.skew import salted_aggregate

    ev = load_tables(spark, sf_dir, ("events",))["events"].withColumn(
        "vdec", F.expr("cast(value as decimal(28,8))")
    )
    agg = salted_aggregate(
        ev, ["event_type"], sums={"sum_dec": "vdec"}, count_alias="n_events"
    )
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("cast(round(sum_dec, 2) as double)").alias("sum_value"),
    )


SALTED_ROLLUP_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_exact_sum("value", 2)} AS sum_value
FROM events
GROUP BY event_type
"""


# --- Bloom-pruned semi join (explicit runtime-filter form) ------------------


def bloom_semi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue profile of line items belonging to URGENT orders,
    routed through ``operators.bloom.bloom_semi_join``: the urgent
    order keys build a 2^20-bit bloom filter (a 1-row broadcast map of
    ≤16 K longs; sized ≈10 bits/key for the sf0.1 build side — at
    2^16 bits the sf0.1 run would saturate to ~60% false positives);
    lineitem rows failing the k-bit membership test drop inside the
    scan stage, BEFORE the semi join's exchange.  The oracle is the
    plain semi join + group-by — bloom false positives are removed by
    the final exact join, so the result is identical by construction
    and the filter's hash family needs no cross-engine portability.

    At 100 TB: the semi join shuffles only ~priority-selectivity of
    the fact table instead of all of it; the filter itself stays
    kilobytes no matter how many build keys it holds."""
    from ..operators.bloom import bloom_semi_join

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    pruned = bloom_semi_join(
        t["lineitem"],
        urgent,
        probe_key="l_orderkey",
        build_key="o_orderkey",
        num_bits=1 << 20,
        num_hashes=5,
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(sql_exact_sum("l_quantity", 2)).alias("sum_qty"),
        F.expr(sql_exact_sum("l_extendedprice * (1 - l_discount)", 2)).alias(
            "sum_revenue"
        ),
    )


BLOOM_SEMI_SQL = f"""
SELECT l_returnflag,
       count(*) AS n_items,
       {sql_exact_sum("l_quantity", 2)} AS sum_qty,
       {sql_exact_sum("l_extendedprice * (1 - l_discount)", 2)} AS sum_revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
"""


# --- Z-order encoding (multi-column layout clustering) ----------------------


def zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton code of every order over (o_custkey, o_totalprice) —
    the encoding ``operators.layout.write_zorder`` clusters files by.
    Spark and the oracle run the SAME generated SQL text (shift/mask
    interleave + min-max bucketize), so the code is proven
    bit-identical cross-engine; the layout writer itself is exercised
    in tests/test_layout.py where per-file min/max envelopes shrink in
    both dimensions."""
    from ..operators.layout import with_zorder

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    z = with_zorder(o, ["o_custkey", "o_totalprice"], bits=16)
    return z.select("o_orderkey", F.col("__zorder").alias("zvalue"))


def _zorder_orders_sql() -> str:
    from ..operators.layout import bucketize_sql, morton_sql

    b0 = bucketize_sql("o_custkey", "lo_c", "hi_c", 16)
    b1 = bucketize_sql("o_totalprice", "lo_p", "hi_p", 16)
    return f"""
WITH bounds AS (
  SELECT cast(min(o_custkey) as double)    AS lo_c,
         cast(max(o_custkey) as double)    AS hi_c,
         cast(min(o_totalprice) as double) AS lo_p,
         cast(max(o_totalprice) as double) AS hi_p
  FROM orders
),
b AS (
  SELECT o_orderkey,
         coalesce({b0}, 0) AS b0,
         coalesce({b1}, 0) AS b1
  FROM orders CROSS JOIN bounds
)
SELECT o_orderkey, {morton_sql(['b0', 'b1'], 16)} AS zvalue FROM b
"""


ZORDER_ORDERS_SQL = _zorder_orders_sql()


def manifest_pruned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end manifest-planned scan (VERDICT r04 ask #4): write a
    z-ordered copy of orders, derive the per-file min/max manifest,
    then answer a selective customer-range aggregate by opening ONLY
    the files whose envelope intersects the predicate.  The oracle
    runs the plain predicate over the logical table — EXACTNESS is
    what the driver hash checks (the envelope test is necessary, not
    sufficient, and read_pruned re-applies the predicate); the
    file-skip COUNT is asserted in tests/test_layout.py where it
    belongs.  At 100 TB this is the planner path every table format
    runs: manifest rows ≈ #files, the pruned read touches the
    selectivity fraction of files, and the z-order layout is what
    makes the envelopes narrow enough to skip on a non-sort column."""
    import tempfile

    from ..operators.layout import file_manifest, read_pruned, write_zorder

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    path = tempfile.mkdtemp(prefix="manifest_pruned_") + "/orders_z"
    write_zorder(
        o, ["o_custkey", "o_totalprice"], path, bits=16, num_files=16
    )
    z = spark.read.parquet(path)
    manifest = file_manifest(z, ["o_custkey", "o_totalprice"])
    pruned = read_pruned(spark, manifest, "o_custkey", 100, 200, table=z)
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(sql_exact_sum("o_totalprice", 2)).alias("sum_price"),
    )


MANIFEST_PRUNED_SQL = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       {sql_exact_sum("o_totalprice", 2)} AS sum_price
FROM orders
WHERE o_custkey BETWEEN 100 AND 200
GROUP BY o_orderstatus
"""
