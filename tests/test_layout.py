"""Z-order layout: Morton-code math, bucketize bounds handling, and
the measurable payoff — per-file min/max envelopes shrink in BOTH
clustered dimensions vs a single-column sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.operators import layout


def _morton_py(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for j in range(bits):
        z |= ((a >> j) & 1) << (2 * j)
        z |= ((b >> j) & 1) << (2 * j + 1)
    return z


def test_morton_sql_matches_reference_bits(spark):
    rows = [(0, 0), (1, 0), (0, 1), (255, 255), (65535, 0), (12345, 54321)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", F.expr(layout.morton_sql(["a", "b"], 16))
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    for a, b in rows:
        assert got[(a, b)] == _morton_py(a, b), (a, b)


def test_morton_is_monotone_in_block_order(spark):
    """Locality property: points in the same 2^k-aligned square share
    a Morton-code prefix, so sorting by z groups them — spot-check
    that the 4 quadrant corners sort in Z traversal order."""
    quad = [(0, 0), (1, 0), (0, 1), (1, 1)]
    df = spark.createDataFrame(quad, "a long, b long").withColumn(
        "z", F.expr(layout.morton_sql(["a", "b"], 2))
    )
    order = [
        (r.a, r.b) for r in df.orderBy("z").collect()
    ]
    assert order == [(0, 0), (1, 0), (0, 1), (1, 1)]


def test_with_zorder_constant_column(spark):
    """A constant clustering column (hi == lo) buckets to 0 instead of
    dividing by zero."""
    df = spark.range(10).select(F.lit(7).alias("a"), F.col("id").alias("b"))
    z = layout.with_zorder(df, ["a", "b"], bits=8)
    assert z.where(F.col("__zorder").isNull()).count() == 0
    assert z.count() == 10


def test_with_zorder_no_python_stage(spark):
    df = spark.range(1000).select(
        (F.col("id") % 97).alias("a"), (F.col("id") % 31).alias("b")
    )
    z = layout.with_zorder(df, ["a", "b"])
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def _file_envelopes(spark, path: str, cols: list[str]):
    """Average per-file (max-min) spread of each column, normalized by
    the global range — the quantity row-group skipping consumes."""
    df = spark.read.parquet(path).withColumn("__f", F.input_file_name())
    per_file = df.groupBy("__f").agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    )
    spreads = {}
    glob = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    for c in cols:
        rng = glob[f"hi_{c}"] - glob[f"lo_{c}"]
        avg = per_file.agg(
            F.avg(F.col(f"hi_{c}") - F.col(f"lo_{c}"))
        ).first()[0]
        spreads[c] = avg / rng
    return spreads


def test_zorder_write_shrinks_envelopes_both_dims(spark, tmp_path):
    """The payoff assertion: sorted-by-a files have narrow a-envelopes
    but full-width b-envelopes; z-ordered files are narrow in BOTH."""
    n, files = 16384, 16
    df = spark.range(n).select(
        (F.col("id") % 256).alias("a"),
        ((F.col("id") * 7919) % 256).alias("b"),
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    layout.write_zorder(df, ["a", "b"], zpath, bits=8, num_files=files)
    df.repartitionByRange(files, "a").sortWithinPartitions("a").write.parquet(
        spath
    )
    z_env = _file_envelopes(spark, zpath, ["a", "b"])
    s_env = _file_envelopes(spark, spath, ["a", "b"])
    # single-column sort: b completely unclustered (~full range / file)
    assert s_env["b"] > 0.9
    # z-order: both dimensions clustered well below full width
    assert z_env["a"] < 0.5 and z_env["b"] < 0.5, (z_env, s_env)


def test_zorder_write_roundtrip_preserves_rows(spark, tmp_path):
    df = spark.range(500).select(
        F.col("id").alias("a"), (F.col("id") * 13 % 101).alias("b")
    )
    p = str(tmp_path / "rt")
    layout.write_zorder(df, ["a", "b"], p, bits=8, num_files=4)
    back = spark.read.parquet(p)
    assert back.count() == 500
    assert "__zorder" not in back.columns
    assert sorted(r.a for r in back.collect()) == list(range(500))


# --- Manifest pruning + compaction ------------------------------------------


@pytest.fixture(scope="module")
def zordered_table(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ztab") / "t")
    n = 8192
    df = spark.range(n).select(
        (F.col("id") % 256).alias("a"),
        ((F.col("id") * 7919) % 256).alias("b"),
        F.col("id").alias("payload"),
    )
    layout.write_zorder(df, ["a", "b"], p, bits=8, num_files=16)
    return p


def test_manifest_covers_all_files_and_rows(spark, zordered_table):
    df = spark.read.parquet(zordered_table)
    man = layout.file_manifest(df, ["a", "b"])
    rows = man.collect()
    assert len(rows) == 16
    assert sum(r.n_rows for r in rows) == 8192
    for r in rows:
        assert r.min_a <= r.max_a and r.min_b <= r.max_b


def test_read_pruned_exact_and_skips_files(spark, zordered_table):
    """Manifest-planned scan must (a) return exactly the full-scan
    filter result and (b) open strictly fewer files on a narrow
    predicate over a z-clustered column."""
    df = spark.read.parquet(zordered_table)
    man = layout.file_manifest(df, ["a", "b"])
    for col in ("a", "b"):
        pruned = layout.read_pruned(spark, man, col, 10, 20, table=df)
        full = df.where((F.col(col) >= 10) & (F.col(col) <= 20))
        assert sorted(r.payload for r in pruned.collect()) == sorted(
            r.payload for r in full.collect()
        )
        n_files = len(layout.prune_files(man, col, 10, 20))
        assert n_files < 16, f"no file skipped for {col}"


def test_read_pruned_empty_selection(spark, zordered_table):
    df = spark.read.parquet(zordered_table)
    man = layout.file_manifest(df, ["a", "b"])
    out = layout.read_pruned(spark, man, "a", 1000, 2000, table=df)
    assert out.count() == 0
    assert "payload" in out.columns


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(50).write.parquet(src)
    n_out = layout.compact_files(spark, src, dst, target_rows_per_file=400)
    assert n_out == 3
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    files = back.select(F.input_file_name()).distinct().count()
    assert files == 3
    assert sorted(r.k for r in back.collect()) == list(range(1000))


def test_compact_files_with_sort_restores_clustering(spark, tmp_path):
    src, dst = str(tmp_path / "frag2"), str(tmp_path / "compact2")
    spark.range(2000).select(
        ((F.col("id") * 37) % 2000).alias("k")
    ).repartition(40).write.parquet(src)
    layout.compact_files(spark, src, dst, target_rows_per_file=500, sort_col="k")
    man = layout.file_manifest(spark.read.parquet(dst), ["k"])
    rows = sorted(man.collect(), key=lambda r: r.min_k)
    # range-sorted output: file envelopes must not overlap
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.max_k <= nxt.min_k


def test_morton_three_columns(spark):
    """morton_sql generalizes past two dimensions: bit j of column i
    lands at position j*3+i."""
    rows = [(1, 0, 0), (0, 1, 0), (0, 0, 1), (5, 3, 7)]
    df = spark.createDataFrame(rows, "a long, b long, c long").withColumn(
        "z", F.expr(layout.morton_sql(["a", "b", "c"], 4))
    )

    def ref(a, b, c):
        z = 0
        for j in range(4):
            z |= ((a >> j) & 1) << (3 * j)
            z |= ((b >> j) & 1) << (3 * j + 1)
            z |= ((c >> j) & 1) << (3 * j + 2)
        return z

    for r in df.collect():
        assert r.z == ref(r.a, r.b, r.c), (r.a, r.b, r.c)


def test_with_zorder_null_values_bucket_low(spark):
    """Null clustering values map to bucket 0 (the coalesce guard) —
    rows survive with a valid code instead of nulling the z column."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "a long, b long"
    )
    z = layout.with_zorder(df, ["a", "b"], bits=4)
    rows = {r.a: r["__zorder"] for r in z.collect()}
    assert len(rows) == 3 and all(v is not None for v in rows.values())


def test_morton_bigint_overflow_guard(spark):
    """ADVICE r04: len(cols)*bits > 63 would emit a 1<<63 literal that
    silently widens past bigint — both entry points now raise."""
    import pytest

    with pytest.raises(ValueError, match="63"):
        layout.morton_sql(["a", "b", "c", "d"], 16)
    df = spark.range(4).selectExpr("id a", "id b", "id c", "id d")
    with pytest.raises(ValueError, match="bits"):
        layout.with_zorder(df, ["a", "b", "c", "d"], bits=16)
    # the documented fallback works: 4 cols at bits=15 stays in range
    z = layout.with_zorder(df, ["a", "b", "c", "d"], bits=15)
    assert z.count() == 4
