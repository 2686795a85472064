"""Coverage-maximizing source selection (pre-built r13): the greedy
must match a brute-force Python reference on a hand-built corpus,
exhibit submodularity (non-increasing gains), bound its driver state
(mask summary ≤ 2^|sources| regardless of rows), and match the
unrolled-argmax DuckDB oracle cell-exactly on the fixture corpus."""

import pytest

from data_engineering_for_e_commerce_logistics_spark.operators import corpus
from data_engineering_for_e_commerce_logistics_spark.plans import (
    corpus_queries as xc,
)
from tests.oracle import compare_frames, duckdb_conn

SF = "/root/testdata/sf0.01"


def _toy(spark):
    rows = [
        # srcA covers grams of "a b c d e" (3 grams), srcB a subset,
        # srcC disjoint, srcD duplicates srcC exactly
        (1, "a b c d e", "srcA"),
        (2, "a b c", "srcB"),
        (3, "x y z w", "srcC"),
        (4, "x y z w", "srcD"),
        (5, None, "srcE"),  # null text: no grams, source still indexed
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_greedy_matches_bruteforce_reference(spark):
    out = {
        r.sel_rank: (r.source, r.gain, r.covered)
        for r in corpus.source_coverage_greedy(_toy(spark), k_select=4).collect()
    }
    # distinct 3-grams: srcA {abc,bcd,cde}=3, srcB {abc}, srcC=srcD {xyz,yzw}=2
    # total distinct = 5.  Greedy: srcA(3) -> srcC(2, tie with srcD
    # breaks lexicographically) -> srcB(0, gain exhausted, lexicographic
    # among {srcB, srcD, srcE}) -> srcD(0).
    assert out[1] == ("srcA", 3, 3)
    assert out[2] == ("srcC", 2, 5)
    assert out[3] == ("srcB", 0, 5)
    assert out[4] == ("srcD", 0, 5)


def test_gains_are_submodular_nonincreasing(spark):
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        load_tables,
    )

    docs = load_tables(spark, SF, ("documents",))["documents"]
    rows = corpus.source_coverage_greedy(docs, k_select=8).collect()
    gains = [r.gain for r in sorted(rows, key=lambda r: r.sel_rank)]
    assert gains == sorted(gains, reverse=True)
    assert rows[0].coverage_frac > 0


def test_mask_summary_is_bounded_and_exact(spark):
    masks = corpus.source_coverage_masks(_toy(spark)).collect()
    # 5 sources -> summary can never exceed 2^5 rows, whatever the
    # corpus row count; here: {A}, {A,B}, {C,D} -> 3 distinct masks
    assert len(masks) == 3
    assert sum(r.cnt for r in masks) == 5  # total distinct grams
    too_many = spark.createDataFrame(
        [(i, "a b c", f"s{i:03d}") for i in range(21)],
        "doc_id long, text string, source string",
    )
    with pytest.raises(ValueError, match="mask bound"):
        corpus.source_coverage_masks(too_many)


def test_source_coverage_matches_duckdb(spark):
    spdf = xc.source_coverage_greedy(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(xc.SOURCE_COVERAGE_SQL).fetchdf()
    conn.close()
    assert compare_frames(spdf, opdf, "source_coverage_greedy") == []


def test_mask_plan_shape(spark):
    """The distributed half: shingle explode + two hash aggs, no
    cartesian, no Python, and the source-index join is broadcast."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        load_tables,
    )

    docs = load_tables(spark, SF, ("documents",))["documents"]
    plan = (
        corpus.source_coverage_masks(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ngram_masks_accrual_law(spark):
    """bit_or mergeability: merge(masks(C1), masks(C2)) must equal
    masks(C1 ∪ C2) cell-exactly — the property that lets the coverage
    index ride the generic streaming accumulator loop."""
    from pyspark.sql import functions as F

    full = _toy(spark)
    srcs = corpus.coverage_sources(full)
    c1 = full.where("doc_id <= 2")
    c2 = full.where("doc_id >= 2")  # deliberate overlap: idempotency
    merged = {
        r.ng: r.mask
        for r in corpus.ngram_masks(c1, srcs)
        .unionByName(corpus.ngram_masks(c2, srcs))
        .groupBy("ng")
        .agg(F.bit_or("mask").alias("mask"))
        .collect()
    }
    want = {r.ng: r.mask for r in corpus.ngram_masks(full, srcs).collect()}
    assert merged == want


def test_incremental_coverage_matches_duckdb_and_full_greedy(spark):
    spdf = xc.incremental_coverage_fresh(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(xc.INCREMENTAL_COVERAGE_SQL).fetchdf()
    conn.close()
    assert compare_frames(spdf, opdf, "incremental_coverage_fresh") == []
    # the accrual-law leg: greedy over the two-batch accrued index
    # IS the one-shot full-corpus greedy (the %10 split covers all docs)
    g = (
        spdf[spdf.variant == "greedy"]
        .drop(columns=["variant"])
        .sort_values("sel_rank")
        .reset_index(drop=True)
    )
    full = (
        xc.source_coverage_greedy(spark, SF)
        .toPandas()
        .sort_values("sel_rank")
        .reset_index(drop=True)
    )
    assert compare_frames(g.dropna(axis=1, how="all"), full, "greedy-leg") == []
