"""Z-order (Morton-curve) file layout — multi-column data skipping.

A table sorted on one column prunes parquet row groups only for
filters on THAT column; a 100 TB fact table filtered sometimes by
customer and sometimes by date needs locality in both.  Interleaving
the bits of the two sort keys into one Morton code and range-sorting
on it gives every file a narrow min/max envelope in BOTH dimensions,
so engine-side row-group statistics (and a cluster's file pruning)
cut I/O for either predicate — the standard warehouse layout trick,
expressed here as plain DataFrame ops:

* ``morton_sql`` emits ONE SQL text that parses identically in Spark
  and DuckDB (`>>`/`&` + power-of-two multiplies, no engine
  functions), so the encoding is oracle-checkable bit-for-bit.
* ``with_zorder`` min-max normalizes each key into ``bits``-bit
  buckets; the global min/max ride along as a 1-row broadcast (the
  histogram pattern — never ``.collect()``), then the interleave is
  per-row expression work inside whole-stage codegen.
* ``write_zorder`` range-repartitions on the code (Spark samples the
  range bounds — no global sort materialization), sorts within
  partitions, and writes; each output file then covers a compact
  Z-curve segment.

At 1000 executors the only exchange is the range partitioner's
sampling pass + one shuffle — identical cost to ``orderBy(col)``
writes; the win is that it buys skipping on k columns, not one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def morton_sql(cols: list[str], bits: int = 16) -> str:
    """Portable SQL for the Morton interleave of already-bucketed
    BIGINT columns in [0, 2^bits).  Bit j of column i lands at output
    position j*len(cols)+i — distinct positions, so the terms combine
    with + (engine-portable; no bit_or chain needed).

    Requires ``len(cols) * bits <= 63``: position 63 would emit the
    literal ``1 << 63``, which overflows bigint and silently widens
    the sum to decimal (or throws under ANSI).  Callers clustering
    more columns must lower ``bits`` — e.g. 4 cols → bits<=15."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"morton code needs {n * bits} bits but a signed bigint "
            f"holds 63 — lower bits to <= {63 // n} for {n} columns"
        )
    terms = [
        f"(({c} >> {j}) & 1) * {1 << (j * n + i)}"
        for j in range(bits)
        for i, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


def bucketize_sql(col: str, lo: str, hi: str, bits: int = 16) -> str:
    """Min-max scale ``col`` into [0, 2^bits) given column names (or
    literals) for the global lo/hi.  Constant columns map to bucket 0
    (nullif guard); the double ratio is computed identically by both
    engines, and floor at the end keeps the bucket integral."""
    top = (1 << bits) - 1
    return (
        f"cast(floor(({col} - {lo}) * {top} /"
        f" nullif(cast(({hi} - {lo}) as double), 0.0)) as bigint)"
    )


def with_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    z_col: str = "__zorder",
) -> DataFrame:
    """Append the Morton code of ``cols`` (numeric) as ``z_col``.
    Global min/max per column come from one fused aggregate broadcast
    as a single row — no driver round-trip, no second scan job beyond
    the tiny bounds pass.  ``len(cols) * bits`` must stay <= 63
    (morton_sql's bigint contract — validated up front so the error
    names the knob, not the overflow)."""
    if len(cols) * bits > 63:
        raise ValueError(
            f"zorder on {len(cols)} columns needs bits <= "
            f"{63 // len(cols)} (got bits={bits}): the interleaved "
            "code must fit a signed bigint"
        )
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    )
    buck_names = [f"__b_{c}" for c in cols]
    withb = df.crossJoin(F.broadcast(bounds)).select(
        "*",
        *[
            F.expr(
                f"coalesce({bucketize_sql(c, f'__lo_{c}', f'__hi_{c}', bits)}, 0)"
            ).alias(b)
            for c, b in zip(cols, buck_names)
        ],
    )
    out = withb.withColumn(z_col, F.expr(morton_sql(buck_names, bits)))
    drop = buck_names + [f"__lo_{c}" for c in cols] + [f"__hi_{c}" for c in cols]
    return out.drop(*drop)


def write_zorder(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered along the Z-curve of ``cols``.
    Files then carry narrow min/max ranges in every clustered column,
    which is what row-group skipping and file pruning consume."""
    z = with_zorder(df, cols, bits=bits)
    if num_files:
        z = z.repartitionByRange(num_files, F.col("__zorder"))
    else:
        z = z.repartitionByRange(F.col("__zorder"))
    z.sortWithinPartitions("__zorder").drop("__zorder").write.mode(mode).parquet(
        path
    )


# --- File-level statistics manifest + manifest-driven pruning ---------------


def file_manifest(
    spark_df: DataFrame, cols: list[str], file_col: str = "file"
) -> DataFrame:
    """Per-file min/max/count statistics for ``cols`` — the poor man's
    Iceberg manifest over plain parquet.  One scan, one shuffle on the
    file name (≤ #files keys); persist the result next to the table
    and incremental-append as new files land.  At 100 TB the manifest
    is #files rows (≈10^5), i.e. free to scan while the table is not."""
    return (
        spark_df.withColumn(file_col, F.input_file_name())
        .groupBy(file_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.min(c).alias(f"min_{c}") for c in cols],
            *[F.max(c).alias(f"max_{c}") for c in cols],
        )
    )


def prune_files(
    manifest: DataFrame, col: str, lo, hi, file_col: str = "file"
) -> list[str]:
    """File paths whose [min,max] envelope intersects [lo, hi].  The
    manifest is tiny (one row per file), so the collect here is the
    same bounded driver pull every table format's planner does —
    it feeds the file list straight into the next read."""
    hits = manifest.where(
        (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
    ).select(file_col)
    return [r[0] for r in hits.collect()]


def read_pruned(
    spark,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    table: DataFrame,
    file_col: str = "file",
) -> DataFrame:
    """Manifest-planned scan: open ONLY the files whose envelope can
    contain matching rows, then re-apply the predicate exactly (the
    envelope test is necessary, not sufficient).  With a z-ordered
    table both clustered columns prune this way — the file-level
    analogue of the row-group skipping test_layout measures.  Returns
    an empty frame with the schema of ``table`` (the frame the
    manifest was built from) when nothing survives, an empty table
    included: its manifest lists no file."""
    paths = prune_files(manifest, col, lo, hi, file_col)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not paths:
        return table.where(F.lit(False))
    return spark.read.parquet(*paths).where(pred)


# --- Small-files compaction -------------------------------------------------


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_rows_per_file: int,
    sort_col: str | None = None,
) -> int:
    """Rewrite a fragmented table into ≈target-sized files; returns
    the output file count.  Row-count-proportional sizing (exact via
    one cheap count) stands in for byte sizing in this sandbox; the
    production knob is the same computation over manifest byte sums.
    Optionally re-sorts while rewriting (compaction is the natural
    moment to restore clustering).  Writing to a NEW path keeps the
    operation atomic-by-rename for the caller — never compact in
    place."""
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    if sort_col:
        df = df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(out_path)
    return n_files


def parquet_file_count(path: str, spark=None) -> int:
    """Data files currently in a parquet directory (the fragmentation
    metric compaction bounds).  Counts through the Hadoop FileSystem
    API so HDFS/S3A index paths work (ADVICE r12); falls back to a
    local glob only when no SparkSession exists to reach the JVM."""
    from pyspark.sql import SparkSession

    from ..fsio import fs_list_names

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        import glob
        import os

        return len(glob.glob(os.path.join(path, "*.parquet")))
    return sum(1 for n in fs_list_names(spark, path) if n.endswith(".parquet"))


def compact_in_place(
    spark,
    path: str,
    target_rows_per_file: int,
    sort_col: str | None = None,
) -> tuple[int, int]:
    """Compact a fragmented append-only table at its OWN path via the
    write-new + swap dance (``compact_files`` into a sibling temp dir,
    then two renames), so long-running ingest loops can invoke it
    every N batches without changing any reader's path.  Returns
    ``(files_before, files_after)``.

    Crash safety: the rewrite lands fully in the temp dir before the
    original moves aside, so an interruption leaves either the
    original or the compacted table — never a merge of both.  Entry
    RECOVERS before it cleans (ADVICE r07): if ``path`` is missing —
    the crash landed between the two renames, so the only surviving
    copies are ``.compact-old`` / ``.compact-tmp`` — the old table is
    renamed back into place first; the stale siblings are deleted
    only once ``path`` itself exists.  Callers
    must hold no open scans over ``path`` across the call (the ingest
    loops here re-read per batch and ``clearCache()`` after each).
    All path ops go through the Hadoop FileSystem API (``fsio``,
    ADVICE r12) so the same loop maintains an HDFS/S3A-resident index
    — with fsio's stated atomic-rename caveat on S3A.
    At 100 TB the same rhythm applies per PARTITION of the index
    (compact only partitions whose small-file count crossed the
    threshold), keeping each rewrite bounded by partition size, not
    table size."""
    from ..fsio import fs_delete, fs_exists, fs_rename

    tmp, old = path + ".compact-tmp", path + ".compact-old"
    if not fs_exists(spark, path):
        # Interrupted mid-swap: restore the pre-compaction table (the
        # tmp copy may be complete too, but old is the known-good
        # original; re-compaction next cycle is cheap, data loss not).
        if fs_exists(spark, old):
            fs_rename(spark, old, path)
        elif fs_exists(spark, tmp):
            fs_rename(spark, tmp, path)
        else:
            raise FileNotFoundError(
                f"compact_in_place: {path} missing and no"
                " .compact-old/.compact-tmp to recover from"
            )
    files_before = parquet_file_count(path, spark)
    fs_delete(spark, tmp)
    fs_delete(spark, old)
    compact_files(spark, path, tmp, target_rows_per_file, sort_col)
    fs_rename(spark, path, old)
    fs_rename(spark, tmp, path)
    fs_delete(spark, old)
    return files_before, parquet_file_count(path, spark)
