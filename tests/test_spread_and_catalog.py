"""Optimization internals: the guarded scan fan-out, the catalog
scan-plan memo and the JVM-literal local frames (focused tests per the
optimization-round brief — every touched operator internal gets
one)."""

from __future__ import annotations

import logging
import os

from data_engineering_for_e_commerce_logistics_spark.catalog import (
    clear_scan_cache,
    read_parquet_table,
)
from data_engineering_for_e_commerce_logistics_spark.functions import (
    local_rows_df,
    spread_scan,
)
from tests.test_pipeline import run_counting_jobs

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_spread_scan_widens_an_underspilt_scan(spark):
    docs = read_parquet_table(spark, f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = spread_scan(docs)
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_spread_scan_noop_at_or_above_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    assert spread_scan(wide) is wide
    wider = spark.range(1000).repartition(target + 3)
    assert spread_scan(wider) is wider


def test_spread_scan_fallback_warns(spark, caplog):
    """A plan whose partition count cannot be read comes back
    unchanged, and the fallback says so in the log."""

    class _Unplannable:
        sparkSession = spark

        @property
        def rdd(self):
            raise RuntimeError("planning failed")

    df = _Unplannable()
    with caplog.at_level(logging.WARNING):
        assert spread_scan(df) is df
    assert any(
        r.levelno == logging.WARNING and "planning failed" in r.getMessage()
        for r in caplog.records
    )


def test_spread_scan_preserves_row_multiset(spark):
    docs = read_parquet_table(spark, f"{SF}/documents.parquet")
    a = sorted(r.doc_id for r in docs.select("doc_id").collect())
    b = sorted(r.doc_id for r in spread_scan(docs).select("doc_id").collect())
    assert a == b


def test_scan_memo_returns_same_plan_handle(spark):
    p = f"{SF}/orders.parquet"
    assert read_parquet_table(spark, p) is read_parquet_table(spark, p)


def test_scan_memo_clear_forces_fresh_listing(spark, tmp_path):
    """A file REWRITTEN within one session must be re-read through
    clear_scan_cache() (the memo pins the first plan handle — ADVICE
    r13); after the clear the new contents are visible.  Single-file
    parquet, the catalog's input shape (the nano-ts sniffer reads the
    footer of a file, not a directory)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = str(tmp_path / "mut.parquet")
    pq.write_table(pa.table({"x": list(range(5))}), target)
    first = read_parquet_table(spark, target)
    assert first.count() == 5
    assert read_parquet_table(spark, target) is first  # memoized handle
    pq.write_table(pa.table({"x": list(range(9))}), target)
    clear_scan_cache()
    fresh = read_parquet_table(spark, target)
    assert fresh is not first
    assert fresh.count() == 9


def test_diversity_spread_clamp_hides_no_real_negative(spark):
    """ADVICE r13: both engines clamp spread at 0, so a REAL large
    negative (a computational bug) would be invisible to the oracle
    diff.  Pin the unclamped magnitude instead: on a duplicate-heavy
    fixture (where the decimal-quantization residue peaks) the clamped
    spread must stay within 1e-6 of the numpy ground truth, so the
    clamp can only ever absorb rounding residue, never a real bug."""
    import numpy as np

    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        diversity_report,
    )

    rows = []
    # duplicate-heavy, direction-diverse fixture (the report operates
    # on UNIT-normalized vectors; zero-norm rows drop)
    vecs = [[1.0, 0.0], [0.6, 0.8], [0.0, 1.0], [5.568359375, 5.568359375]]
    for i in range(12):
        rows.append((i, "g", vecs[i % 4]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = {r["label"]: r for r in diversity_report(df).collect()}["g"]
    # spread is the RAW-vector covariance trace over the non-zero-norm
    # rows (cosine stats are the normalized ones)
    vs = np.array([vecs[i % 4] for i in range(12)], dtype=float)
    mean_v = vs.mean(axis=0)
    np_spread = (np.linalg.norm(vs, axis=1) ** 2).mean() - mean_v @ mean_v
    assert out["spread"] >= 0.0
    assert abs(out["spread"] - max(np_spread, 0.0)) < 1e-6


def test_local_rows_df_runs_one_task(spark):
    """A noop write of a ``local_rows_df`` frame, with rows or empty,
    runs one job of one task, whatever the cluster's parallelism."""
    schema = "k int, v string"
    for label, rows in (("rows", [(1, "a"), (2, "b")]), ("empty", [])):
        df = local_rows_df(spark, rows, schema)
        _, jobs, tasks = run_counting_jobs(
            spark,
            lambda df=df: df.write.format("noop").mode("overwrite").save(),
            f"local-rows-{label}",
        )
        assert (jobs, tasks) == (1, 1), label
