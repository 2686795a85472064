"""Per-group embedding diversity report (pre-built r13): the mean
pairwise cosine over all n·(n−1) ordered pairs computed via the
sum-vector identity — no pairwise join anywhere.  Laws: identical
vectors read 1.0, an orthonormal basis reads 0.0, zero-norm vectors
drop, singletons report NULL; the sf0.01 result must match the DuckDB
oracle bitwise; the plan must shuffle statistics, never the corpus."""

import math

from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
    diversity_report,
)
from data_engineering_for_e_commerce_logistics_spark.plans import (
    graph_queries as gq,
)
from tests.oracle import compare_frames, duckdb_conn

SF = "/root/testdata/sf0.01"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "label int, embedding array<float>")


def test_identical_vectors_read_collapsed(spark):
    """n copies of one direction: every pairwise cosine is 1, the
    centroid concentration is 1, and the raw spread is 0 (identical
    raw vectors too)."""
    out = diversity_report(
        _mk(spark, [(0, [3.0, 4.0])] * 5)
    ).collect()[0]
    assert out.n_vecs == 5
    assert abs(out.mean_pairwise_cos - 1.0) < 1e-6
    assert abs(out.mean_cos_centroid - 1.0) < 1e-6
    assert abs(out.spread) < 1e-6


def test_orthonormal_basis_reads_zero(spark):
    """An orthonormal set: every cross pair's cosine is 0, so the
    pairwise mean is exactly 0 and the concentration is 1/sqrt(n)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (0, [0.0, 1.0, 0.0]),
        (0, [0.0, 0.0, 1.0]),
    ]
    out = diversity_report(_mk(spark, rows)).collect()[0]
    assert abs(out.mean_pairwise_cos) < 1e-6
    assert abs(out.mean_cos_centroid - 1.0 / math.sqrt(3)) < 1e-6


def test_opposite_vectors_read_negative(spark):
    """Two antipodal vectors: the one ordered-pair cosine is −1 and
    the sum vector vanishes."""
    out = diversity_report(
        _mk(spark, [(0, [1.0, 0.0]), (0, [-1.0, 0.0])])
    ).collect()[0]
    assert abs(out.mean_pairwise_cos - (-1.0)) < 1e-6
    assert abs(out.mean_cos_centroid) < 1e-6


def test_zero_norm_dropped_and_singleton_null(spark):
    """The zero vector carries no direction — it must not poison the
    group (division by zero) or its count; a group left with one
    vector has no pairs, so mean_pairwise_cos is NULL, not 0/0."""
    rows = [
        (0, [0.0, 0.0]),
        (0, [1.0, 0.0]),
        (1, [2.0, 1.0]),
    ]
    out = {r.label: r for r in diversity_report(_mk(spark, rows)).collect()}
    assert out[0].n_vecs == 1
    assert out[0].mean_pairwise_cos is None
    assert abs(out[0].mean_cos_centroid - 1.0) < 1e-9
    assert out[1].n_vecs == 1


def test_matches_bruteforce_pairwise(spark):
    """The sum-vector identity vs the O(n²) definition it replaces,
    on a small planted group: agreement to 1e-9."""
    import numpy as np

    rng = np.random.RandomState(7)
    vs = rng.randn(23, 8).astype("float64")
    rows = [(0, [float(x) for x in v]) for v in vs]
    out = diversity_report(_mk(spark, rows)).collect()[0]
    u = vs / np.linalg.norm(vs, axis=1, keepdims=True)
    g = u @ u.T
    n = len(vs)
    brute = (g.sum() - np.trace(g)) / (n * (n - 1))
    assert abs(out.mean_pairwise_cos - brute) < 1e-9
    assert abs(out.mean_cos_centroid - np.linalg.norm(u.sum(0)) / n) < 1e-9
    mean_v = vs.mean(0)
    spread = (np.linalg.norm(vs, axis=1) ** 2).mean() - mean_v @ mean_v
    assert abs(out.spread - spread) < 1e-7


def test_near_dup_collapse_raises_the_signal(spark):
    """The monitoring story: planting near-duplicate clusters into a
    spread-out group must raise mean_pairwise_cos — the number a
    sampling stage alarms on."""
    import numpy as np

    rng = np.random.RandomState(11)
    spread_vs = rng.randn(40, 8)
    base = rng.randn(8)
    dups = [base + 0.01 * rng.randn(8) for _ in range(40)]
    rows = [(0, [float(x) for x in v]) for v in spread_vs] + [
        (1, [float(x) for x in v]) for v in dups
    ]
    out = {r.label: r for r in diversity_report(_mk(spark, rows)).collect()}
    assert out[1].mean_pairwise_cos > 0.9
    assert out[1].mean_pairwise_cos > out[0].mean_pairwise_cos + 0.5


def test_embedding_diversity_matches_duckdb(spark):
    spdf = gq.embedding_diversity_report(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(gq.EMBEDDING_DIVERSITY_SQL).fetchdf()
    conn.close()
    assert compare_frames(spdf, opdf, "embedding_diversity_report") == []


def test_diversity_plan_shuffles_stats_not_corpus(spark):
    """100 TB guard: the exchanges carry (label) / (label, dim)
    statistics after map-side partial aggregation — the corpus is
    never key-partitioned by vector id and never pair-joined."""
    from tests.test_plans import _plan_of

    plan = _plan_of(spark, gq.embedding_diversity_report)
    assert "hashpartitioning(vec_id" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the two tiny aggregates meet
    assert "InMemoryTableScan" in plan  # one cached scan, two readers
