"""Sinks — SURVEY §2.1 S10-S19.

The reference loads into SQLite/Postgres via SQLAlchemy with batched
inserts and a row-at-a-time upsert loop (db_loader.py:225-389).
Spark-native equivalents over immutable columnar storage:

* parquet append/overwrite writes (the reference's CSV sinks S10/S11
  upgraded to parquet per SURVEY §7.1),
* MERGE-style upsert as a set-oriented join rewrite (left_anti ∪
  updates) — the required replacement for the O(rows) upsert loop
  (SURVEY §4.2),
* audit-column stamping, sink-schema projection, run logging, view
  DDL — engine code mirroring db_loader.py:84-212, 250-263, 443-474.

JDBC paths are provided but import-guarded (no DB in this container);
at scale the parquet/lakehouse path is the primary sink anyway.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _observed_rows(df: DataFrame):
    """``df`` with a row counter attached, and a getter for the count
    the next action over it observes — the write reports its own row
    count, with no second execution of ``df``."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    return observed, lambda: obs.get.get("rows", 0)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> int:
    """S10/S11 upgraded: parquet with optional partition columns —
    partitionBy is the Spark replacement for the reference's B-tree
    indexes (partition pruning instead of index seeks).

    Returns the number of rows written, observed during the write
    (``pyspark.sql.Observation``), so callers need no ``df.count()``."""
    df, rows = _observed_rows(df)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return rows()


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Format-generic sink over Spark's built-in writers (parquet /
    orc / json / csv) — the reference's single-format export surface
    widened to every columnar/row format Spark ships without extra
    jars.  CSV/JSON are interchange formats: schema is not embedded,
    so `read_table` takes an explicit schema for them (round-trip
    tested in test_sources_sinks)."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read back any `write_table` output.  Self-describing formats
    (parquet/orc) need no schema; text formats take the explicit one
    (schema inference on CSV/JSON is a full extra pass over the data —
    never acceptable at 100 TB)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def with_audit_columns(df: DataFrame) -> DataFrame:
    """S14: stamp created_at/updated_at if absent (db_loader.py:250-253)."""
    if "updated_at" not in df.columns:
        df = df.withColumn("updated_at", F.current_timestamp())
    if "created_at" not in df.columns:
        df = df.withColumn("created_at", F.current_timestamp())
    return df


def project_to_schema(df: DataFrame, target_columns: list[str]) -> DataFrame:
    """S15: drop columns the target table doesn't have
    (db_loader.py:256-263) — kept explicit even though Catalyst prunes,
    because it is a sink *contract*, not an optimization."""
    keep = [c for c in df.columns if c in set(target_columns)]
    return df.select(*keep)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_columns: list[str],
    bloom_bits: int | None = None,
) -> int:
    """S13: MERGE semantics on plain parquet.

    target ⟕anti updates ∪ updates, written back atomically via a temp
    path swap.  Idempotent like the reference's re-runnable loads
    (db_loader.py:274-290): re-applying the same updates is a no-op
    change.  On Delta/Iceberg this becomes a real MERGE INTO with
    file-level pruning; the join rewrite is the storage-agnostic form.

    ``bloom_bits`` (single-key targets only) routes the anti join
    through ``operators.bloom.bloom_anti_join``: target rows that miss
    the update-batch's bloom filter bypass the anti join's shuffle —
    the row-level analogue of MERGE file pruning, result-identical.
    Size ≈10 bits per update-batch key.

    Returns the row count of the merged table, observed during the
    rewrite (no re-read of the written files).

    Path ops go through the Hadoop FileSystem API (``fsio``, ADVICE
    r12) so the MERGE rewrite targets HDFS/S3A tables, not just the
    driver's disk — with fsio's atomic-rename caveat on S3A."""
    from ..fsio import fs_delete, fs_exists, fs_rename

    if fs_exists(spark, path):
        target = spark.read.parquet(path)
        if bloom_bits and len(key_columns) == 1:
            from ..operators.bloom import bloom_anti_join

            unmatched = bloom_anti_join(
                target, updates, key_columns[0], num_bits=bloom_bits
            )
        else:
            unmatched = target.join(updates, key_columns, "left_anti")
        merged = unmatched.unionByName(
            updates, allowMissingColumns=True
        )
    else:
        merged = updates
    merged, rows = _observed_rows(merged)
    tmp = f"{path}__tmp_upsert"
    merged.write.mode("overwrite").parquet(tmp)
    fs_delete(spark, path)
    fs_rename(spark, tmp, path)
    return rows()


def generate_cdc(
    old: DataFrame,
    new: DataFrame,
    key_columns: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
    seq: int = 1,
) -> DataFrame:
    """Snapshot diff → minimal CDC feed (the producer side of
    ``apply_cdc``): keys only in ``new`` emit I, keys only in ``old``
    emit D, keys whose non-key columns differ (null-safe) emit U, and
    identical rows emit NOTHING — the feed is the smallest batch that
    replays one snapshot into the other.  Round-trip law (tested):
    ``apply_cdc(old, generate_cdc(old, new)) == new`` as a set.

    One full-outer hash join keyed on ``key_columns`` — the same
    single wide exchange a MERGE needs; per-column null-safe compares
    are expression work inside codegen.  At 100 TB this is how a
    rebuilt table ships to consumers as a delta instead of a full
    re-copy.

    PRECONDITION: ``key_columns`` must be unique within EACH snapshot
    (the usual primary-key contract both MERGE and CDC assume).
    Duplicate keys fan out in the full-outer join and emit duplicate /
    contradictory I-U-D rows, breaking the round-trip law — dedup on
    the key first (``dedup_rows`` keep-first) if the source cannot
    guarantee it.  Not asserted here: validating would add a count
    pass per call; the property test exercises the contract instead."""
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schema mismatch: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    data_cols = [c for c in new.columns if c not in key_columns]
    o = old.select(
        *key_columns,
        *[F.col(c).alias(f"__o_{c}") for c in data_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(*new.columns, F.lit(True).alias("__in_new"))
    j = o.join(n, key_columns, "full_outer")
    differs = F.lit(False)
    for c in data_cols:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"__o_{c}"))
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(differs, F.lit("U"))
    )
    return (
        j.withColumn(op_col, op)
        .where(F.col(op_col).isNotNull())
        .select(
            *key_columns,
            *data_cols,
            op_col,
            F.lit(seq).cast("long").alias(seq_col),
        )
    )


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    key_columns: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture feed (op ∈ I/U/D, monotonically
    increasing ``seq`` per key) to a target snapshot — the MERGE
    pattern every CDC-fed warehouse table needs, expressed as two
    hash joins:

    1. squash the feed to each key's LATEST change (window row_number
       over seq desc — per-key state never leaves its partition),
    2. target rows not touched by the feed pass through (left_anti),
    3. the latest change contributes its row unless it is a delete.

    Net-effect semantics: an I followed by U applies the U's image; a
    trailing D wins over everything earlier.  Re-applying the same
    feed is a no-op (idempotent like `upsert_parquet`).  At 100 TB the
    only wide shuffle is keyed on ``key_columns`` — the same exchange
    a plain upsert needs; squashing happens on the (much smaller) feed
    before it ever joins the snapshot."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_columns).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = latest.filter(F.col(op_col) != F.lit("D")).drop(
        op_col, seq_col
    )
    untouched = target.join(latest, key_columns, "left_anti")
    return untouched.unionByName(survivors, allowMissingColumns=True)


def cascade_delete(
    child: DataFrame,
    deleted_keys: DataFrame,
    fk_columns: list[str],
    mode: str = "cascade",
) -> DataFrame:
    """J4: FK referential actions as set-oriented join rewrites
    (reference schema.sql:112-114, 157-167 — ON DELETE CASCADE /
    ON DELETE SET NULL enforced by the database; here the delete of a
    parent key set is propagated to the child relation in one plan).

    * ``cascade``  → child rows referencing a deleted parent are
      removed (left_anti on the FK — one shuffle, or zero when both
      sides are bucketed on the key).
    * ``set_null`` → the FK columns are nulled where the parent was
      deleted; every other column and the row count are preserved.

    ``deleted_keys`` carries exactly the ``fk_columns`` (parent PK
    values, renamed to the child's FK names).  Small delete sets
    broadcast; Catalyst/AQE picks the strategy.
    """
    keys = deleted_keys.select(*fk_columns).distinct()
    if mode == "cascade":
        return child.join(keys, fk_columns, "left_anti")
    if mode == "set_null":
        flagged = child.join(
            keys.withColumn("__deleted", F.lit(True)), fk_columns, "left"
        )
        cols = []
        for c in child.columns:
            if c in fk_columns:
                cols.append(
                    F.when(F.col("__deleted"), F.lit(None))
                    .otherwise(F.col(c))
                    .cast(child.schema[c].dataType)
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        return flagged.select(*cols)
    raise ValueError(f"unknown referential action: {mode!r}")


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """S12: JDBC batch-append (db_loader.py:225-317's to_sql slices →
    one distributed write with per-partition batching)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_columns: list[str],
    num_buckets: int = 32,
    sort_columns: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table: the 100 TB co-location primitive.

    Two fact tables bucketed (and optionally sorted) on their join key
    join with ZERO shuffle — each bucket pairs off directly; this is
    the Spark replacement for the reference's FK B-tree indexes on
    join columns (schema.sql:118-173) at warehouse scale.  Requires a
    metastore table (saveAsTable), not a bare path — plain
    spark.read.parquet of the same files would not see the clustering.
    ``path`` makes the table external (tests point it at a tmpdir)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_columns)
    if sort_columns:
        writer = writer.sortBy(*sort_columns)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def table_counts(spark: SparkSession, paths: dict[str, str]) -> dict[str, int]:
    """S17: row counts per table (db_loader.py:429-441's SELECT
    COUNT(*) loop over parquet paths).  Counts come from parquet
    footer statistics — no data scan."""
    out: dict[str, int] = {}
    for name, path in paths.items():
        try:
            out[name] = spark.read.parquet(path).count()
        except Exception:
            out[name] = -1
    return out


# --- Run log (S18) ----------------------------------------------------------

RUN_LOG_SCHEMA = (
    "run_id string, source string, status string, started_at timestamp,"
    " duration_seconds double, rows_extracted long, rows_transformed long,"
    " rows_loaded long, validation_passed boolean, error_message string"
)


@dataclass
class RunMetrics:
    run_id: str
    source: str
    status: str = "success"
    started_at: float = 0.0
    duration_seconds: float = 0.0
    rows_extracted: int = 0
    rows_transformed: int = 0
    rows_loaded: int = 0
    validation_passed: bool = True
    error_message: str | None = None


def log_etl_run(spark: SparkSession, metrics: RunMetrics, path: str) -> None:
    """S18: append one audit row per run (db_loader.py:443-474;
    schema.sql:180-192).

    The row is built as JVM literals (``local_rows_df``): its write
    runs one job of one task and starts no Python worker, where
    ``createDataFrame`` on a list maps a pickled RDD through a worker
    in each of ``defaultParallelism`` tasks.  Parquet reads back
    all-nullable, so the log reads back as ``RUN_LOG_SCHEMA`` whichever
    way a file was written."""
    import datetime

    from ..functions import local_rows_df

    row = [
        (
            metrics.run_id,
            metrics.source,
            metrics.status,
            datetime.datetime.fromtimestamp(metrics.started_at or time.time()),
            float(metrics.duration_seconds),
            metrics.rows_extracted,
            metrics.rows_transformed,
            metrics.rows_loaded,
            metrics.validation_passed,
            metrics.error_message,
        )
    ]
    local_rows_df(spark, row, RUN_LOG_SCHEMA).write.mode("append").parquet(path)


# --- Views / DDL (S19) ------------------------------------------------------


def create_analytic_views(spark: SparkSession, sf_dir: str) -> None:
    """S19: register the warehouse views (schema.sql:203-234) over the
    catalog's temp views so spark.sql can query them by name."""
    from ..catalog import register_views
    from ..plans.views import V_DELIVERY_PERFORMANCE_SQL, V_ORDER_SUMMARY_SQL

    register_views(spark, sf_dir)
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW v_order_summary AS {V_ORDER_SUMMARY_SQL}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW v_delivery_performance AS "
        + V_DELIVERY_PERFORMANCE_SQL
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_columns: list[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally sorted export WITHOUT a single-partition sort: rows are
    range-partitioned on the sort key (sampled range boundaries, one
    shuffle) and sorted within each partition — file part-NNNNN order
    concatenates to a total order.  This is how a 100 TB sorted
    extract must be written; ``orderBy().write`` funnels through one
    task's sort only when Spark cannot see the partitioning, and a
    coalesce(1) melts the driver.  ``num_partitions`` bounds output
    file count (default: spark.sql.shuffle.partitions)."""
    cols = [F.col(c) for c in sort_columns]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
