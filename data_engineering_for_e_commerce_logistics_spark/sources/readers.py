"""Batch sources — SURVEY §2.1 S1-S9.

The reference's extraction layer is pandas read_csv + requests JSON
(src/extract/csv_loader.py, api_connector.py).  Spark-native versions:

* CSV: spark.read.csv with explicit schemas — chunked reading
  (csv_loader.py:96-98) is obsolete, Spark splits files natively.
* Olist-shaped typed readers with timestamp parsing
  (csv_loader.py:115-161).
* Multi-table scan with skip-on-missing tolerance
  (csv_loader.py:187-215).
* JSON flatten/explode shapes for the API payloads (S2-S4): struct
  field access and explode — see also api.py for the fetch side.
* Profiler (S9) lives in plans/relational_queries.profile_lineitem
  (the oracle-checked variant); profile_table here is the generic
  library call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Olist CSV schemas (ref csv_loader.py:115-161, schema.sql:90-168) —
# explicit StructTypes so no inference pass is needed.
OLIST_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("order_status", T.StringType()),
        T.StructField("order_purchase_timestamp", T.TimestampType()),
        T.StructField("order_approved_at", T.TimestampType()),
        T.StructField("order_delivered_carrier_date", T.TimestampType()),
        T.StructField("order_delivered_customer_date", T.TimestampType()),
        T.StructField("order_estimated_delivery_date", T.TimestampType()),
    ]
)

OLIST_ORDER_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("order_item_id", T.IntegerType()),
        T.StructField("product_id", T.StringType()),
        T.StructField("seller_id", T.StringType()),
        T.StructField("shipping_limit_date", T.TimestampType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("freight_value", T.DoubleType()),
    ]
)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """CSV scan (S6).  UTF-8 + header, schema optional (inference only
    for ad-hoc use — production paths pass explicit StructTypes so the
    scan is single-pass and the plan is stable)."""
    reader = spark.read.option("header", "true").option("encoding", "UTF-8")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    **options,
) -> DataFrame:
    """CSV scan with the same corrupt-record rescue the JSONL reader
    has: rows that fail the explicit schema land whole in
    ``_corrupt_record`` (PERMISSIVE) instead of aborting the load or
    silently nulling — route them to a quarantine sink and keep going.
    Same caveats as ``read_jsonl_corpus``: cache before filtering on
    the rescue column alone, and never use inference on a production
    path (two full scans + one bad line flips column types)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    reader = (
        spark.read.option("header", "true")
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(full).csv(path)


def load_multi_table(
    spark: SparkSession,
    file_map: dict[str, str],
    loader=None,
) -> dict[str, DataFrame]:
    """Multi-table dataset scan (S8): load every file that exists,
    skip-with-tolerance on missing ones (ref csv_loader.py:187-215).
    Existence checks go through the Hadoop FileSystem API so the map
    may point at HDFS/S3A URIs (ADVICE r12)."""
    from ..fsio import fs_exists

    loader = loader or (lambda s, p: load_csv(s, p))
    out: dict[str, DataFrame] = {}
    for name, path in file_map.items():
        if not fs_exists(spark, path):
            continue
        try:
            out[name] = loader(spark, path)
        except Exception:
            continue
    return out


# --- API payload shapes (S2-S4): flatten / explode --------------------------


def flatten_products(raw: DataFrame) -> DataFrame:
    """Products payload: rating struct → rating_rate / rating_count
    (ref api_connector.py:137-166)."""
    return raw.select(
        F.col("id").alias("product_id"),
        "title",
        "price",
        "description",
        "category",
        F.col("rating.rate").alias("rating_rate"),
        F.col("rating.count").alias("rating_count"),
    )


def explode_carts(raw: DataFrame) -> DataFrame:
    """Carts payload: products array<struct> → one row per line item
    with parent fields repeated (ref api_connector.py:168-204) — the
    UNNEST/lateral the reference hand-rolls with a Python loop."""
    return raw.select(
        F.col("id").alias("order_id"),
        F.col("userId").alias("user_id"),
        F.col("date").alias("order_date"),
        F.explode("products").alias("p"),
    ).select(
        "order_id",
        "user_id",
        "order_date",
        F.col("p.productId").alias("product_id"),
        F.col("p.quantity").alias("quantity"),
    )


def flatten_users(raw: DataFrame) -> DataFrame:
    """Users payload: 2-level nested structs flattened
    (ref api_connector.py:206-244)."""
    return raw.select(
        F.col("id").alias("customer_id"),
        "email",
        "username",
        "phone",
        F.col("name.firstname").alias("first_name"),
        F.col("name.lastname").alias("last_name"),
        F.col("address.city").alias("city"),
        F.col("address.street").alias("street"),
        F.col("address.zipcode").alias("zip_code"),
        F.col("address.geolocation.lat").cast("double").alias("lat"),
        F.col("address.geolocation.long").cast("double").alias("lng"),
    )


def with_extraction_metadata(df: DataFrame, source: str) -> DataFrame:
    """S5: stamp extracted_at + source columns (ref api_connector.py:162-163)."""
    return df.withColumn("extracted_at", F.current_timestamp()).withColumn(
        "source", F.lit(source)
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> dict:
    """S9 profiler (ref csv_loader.py:217-258 iterates pandas per
    column): algebraic stats fuse into ONE aggregation pass; the
    exact distinct counts run as per-column pre-aggregated jobs
    joined back as 1-row broadcasts, still collected in a single
    action.  N ``countDistinct`` in one agg would lower to an
    (N+1)-way Expand — one duplicated input row per distinct group —
    multiplying exchange volume by the column count (r05; same
    rewrite as plans.relational_queries.profile_lineitem, measured
    2.9× there with only 4 columns)."""
    columns = columns or df.columns
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType, (T.IntegerType, T.LongType, T.DoubleType, T.FloatType)
        )
    }
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        if c in numeric:
            aggs += [
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.avg(c).alias(f"{c}__avg"),
            ]
    fused = df.agg(*aggs)
    for c in columns:
        # NULL is excluded before the distinct so the count matches
        # countDistinct / SQL count(DISTINCT c) / pandas nunique() —
        # the bare select(c).distinct() would count NULL as one extra
        # distinct value on nullable columns (ADVICE r05).
        d = (
            df.select(c)
            .where(F.col(c).isNotNull())
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"{c}__distinct"))
        )
        fused = fused.crossJoin(F.broadcast(d))
    row = fused.first()
    total = row["__rows"]
    profile = {"row_count": total, "column_count": len(df.columns), "columns": {}}
    for c in columns:
        info = {
            "dtype": df.schema[c].dataType.simpleString(),
            "null_count": int(row[f"{c}__nulls"]),
            "null_pct": (row[f"{c}__nulls"] / total * 100.0) if total else 0.0,
            "distinct_count": int(row[f"{c}__distinct"]),
        }
        if c in numeric:
            info.update(
                min=row[f"{c}__min"], max=row[f"{c}__max"], mean=row[f"{c}__avg"]
            )
        profile["columns"][c] = info
    return profile


# --- JSONL corpus I/O (the dominant LLM-corpus interchange format) ----------

DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_JSONL_SCHEMA,
) -> DataFrame:
    """Read a JSON-lines corpus with an EXPLICIT schema plus a
    corrupt-record rescue column — never schema inference (an
    inference pass reads the whole corpus twice, and a single
    malformed line flips column types at 100 TB).  Malformed lines
    land in ``_corrupt_record`` instead of killing the job
    (PERMISSIVE), so the pipeline can route them to a quarantine sink
    and keep going; count them with
    ``df.cache().filter("_corrupt_record IS NOT NULL")`` (the cache
    is required: Spark refuses queries that reference ONLY the
    corrupt-record column off the raw scan, because column pruning
    would skip the very parse that fills it)."""
    # fresh StructType — StructType.add MUTATES the receiver, which
    # would grow the shared module-level schema on every call
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_jsonl_shards(
    df: DataFrame, path: str, shard_count: int | None = None
) -> None:
    """Write a corpus as JSONL shard files.  ``shard_count`` bounds
    output file count (repartition — one shuffle); omit it to keep the
    upstream partitioning (no shuffle, file count = partitions, the
    right default for big exports)."""
    out = df.repartition(shard_count) if shard_count else df
    out.write.mode("overwrite").json(path)
