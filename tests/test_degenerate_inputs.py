"""Degenerate inputs: the sf0.001 tables cut to 0 rows and to 1 row
(schemas kept, written in-process with pyarrow) must give the DuckDB
oracle's answer, not a crash.  Runs under ANSI mode, as a bare driver
session does, so an unguarded division by zero raises here."""

from __future__ import annotations

import contextlib
import os

import pyarrow.parquet as pq
import pytest

from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs
from tests.conftest import SF_SMOKE
from tests.oracle import compare_frames, duckdb_conn


def _cut_tables(dst, n_rows: int) -> str:
    for name in sorted(os.listdir(SF_SMOKE)):
        table = pq.read_table(os.path.join(SF_SMOKE, name))
        pq.write_table(table.slice(0, n_rows), os.path.join(dst, name))
    return str(dst)


@pytest.fixture(scope="module")
def sf_empty(tmp_path_factory):
    return _cut_tables(tmp_path_factory.mktemp("sf_empty"), 0)


@pytest.fixture(scope="module")
def sf_one(tmp_path_factory):
    return _cut_tables(tmp_path_factory.mktemp("sf_one"), 1)


@contextlib.contextmanager
def _ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def _matches_oracle(spark, name: str, sf_dir: str):
    spec = all_specs()[name]
    with _ansi(spark):
        got = spec.build(spark, sf_dir).toPandas()
    conn = duckdb_conn(sf_dir)
    try:
        want = conn.execute(spec.oracle).fetchdf()
    finally:
        conn.close()
    assert compare_frames(got, want, name) == []
    return want


@pytest.mark.parametrize("name", ["profile_lineitem", "quantiles_lineitem"])
def test_empty_lineitem_gives_oracle_answer(spark, sf_empty, name):
    want = _matches_oracle(spark, name, sf_empty)
    # the oracle answers with NULL statistics, not with no rows
    assert len(want) > 0


@pytest.mark.parametrize("name", ["events_zscore_outliers", "histogram_orders"])
def test_one_row_tables_give_oracle_answer(spark, sf_one, name):
    want = _matches_oracle(spark, name, sf_one)
    # the single row reaches the division: one group of one value
    assert len(want) == 1


def test_empty_orders_keep_grand_totals(spark, sf_empty):
    want = _matches_oracle(spark, "grouping_sets_orders", sf_empty)
    # ROLLUP's and CUBE's () sets: one row each, count 0
    assert list(want["n_orders"]) == [0, 0]


def test_empty_orders_manifest_pruned_scan(spark, sf_empty):
    """An empty table's manifest lists no file; the pruned scan still
    answers with no rows in the table's schema."""
    want = _matches_oracle(spark, "manifest_pruned_orders", sf_empty)
    assert len(want) == 0


def test_one_row_ivfpq_suite_encodes_nothing(spark, sf_one):
    """The one vector is a coarse centroid, so no residual seeds a
    codeword: every subspace's codebook is empty, and a vector with no
    codeword in its subspace gets no code (the oracle's inner join)."""
    want = _matches_oracle(spark, "ivfpq_suite", sf_one)
    assert len(want) == 0
