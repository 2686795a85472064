"""k-means library operator: determinism, assignment sanity,
convergence toward tighter cells over iterations."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.operators.similarity import kmeans

SF = "/root/testdata/sf0.001"


def test_kmeans_assignments(spark):
    emb = read_parquet_table(spark, f"{SF}/embeddings.parquet")
    out = kmeans(emb, k=4, n_iter=2)
    rows = out.collect()
    assert len(rows) == emb.count()  # every vector assigned
    cells = {r.cell for r in rows}
    assert cells <= set(range(1, 5)) and len(cells) >= 2
    # deterministic across runs
    again = {r.vec_id: r.cell for r in kmeans(emb, k=4, n_iter=2).collect()}
    assert all(again[r.vec_id] == r.cell for r in rows)


def test_kmeans_sse_non_increasing(spark):
    """Lloyd's invariant: within-cluster SSE never increases with more
    iterations (each assign step and each update step individually
    minimize it)."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        _as_double_vec,
        _fold_sum,
    )

    emb = read_parquet_table(spark, f"{SF}/embeddings.parquet")
    vecs = emb.select("vec_id", _as_double_vec("embedding").alias("v"))

    def sse(assignments):
        joined = assignments.join(vecs, "vec_id")
        centroids = (
            joined.select("cell", F.posexplode("v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("c"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda s: s["c"],
                ).alias("cv")
            )
        )
        return (
            joined.join(centroids, "cell")
            .select(
                _fold_sum(
                    F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y))
                ).alias("d")
            )
            .agg(F.sum("d"))
            .first()[0]
        )

    sse1 = sse(kmeans(emb, k=5, n_iter=1))
    sse3 = sse(kmeans(emb, k=5, n_iter=3))
    assert sse3 <= sse1 + 1e-6


def test_kmeans_suite_matches_duckdb_and_parts(spark):
    """r09 consolidation candidate (plans/queries.py trade): the suite
    must reproduce BOTH retiring specs' cells from one shared Lloyd
    chain, and match its own generated DuckDB oracle."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = gq.kmeans_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(gq.KMEANS_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    assert len(spdf) == 1000  # 500 vectors × 2 variants
    assert compare_frames(spdf, opdf, "kmeans_suite") == []

    refine = {
        r.vec_id: (r.cell_round1, r.cell_round2)
        for _, r in spdf[spdf.variant == "refine"].iterrows()
    }
    for r in gq.kmeans_refine(spark, sf).collect():
        assert refine[r.vec_id] == (float(r.cell_round1), float(r.cell_round2))
    final = {
        r.vec_id: r.cell for _, r in spdf[spdf.variant == "iter3"].iterrows()
    }
    for r in gq.kmeans_iterations(spark, sf).collect():
        assert final[r.vec_id] == float(r.cell)
