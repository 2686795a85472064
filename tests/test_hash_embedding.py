"""Hash-feature embedding: deterministic text→vector path feeding the
similarity operators end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.operators import text
from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
    brute_force_topk,
)

SF = "/root/testdata/sf0.001"


def test_hash_embedding_shape_and_determinism(spark):
    docs = read_parquet_table(spark, f"{SF}/documents.parquet").limit(30)
    emb = text.hash_embedding(docs, dims=16)
    rows = emb.collect()
    assert len(rows) == 30
    assert all(len(r.embedding) == 16 for r in rows)
    again = {r.doc_id: r.embedding for r in text.hash_embedding(docs, dims=16).collect()}
    assert all(again[r.doc_id] == r.embedding for r in rows)
    # vectors are non-trivial (not all zeros)
    assert any(any(v != 0.0 for v in r.embedding) for r in rows)


def test_hash_embedding_feeds_similarity_search(spark):
    docs = read_parquet_table(spark, f"{SF}/documents.parquet").limit(30)
    emb = text.hash_embedding(docs, dims=16).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    topk = brute_force_topk(emb, query_ids=[0, 1], k=3)
    got = topk.collect()
    assert {r.query_id for r in got} == {0, 1}
    assert all(r.neighbor_id != r.query_id for r in got)
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in got if r.cosine is not None)


def test_brute_force_topk_arrow_matches_fold(spark):
    """The Arrow/matmul scoring path must agree with the JVM fold
    path: identical ranks (well-separated synthetic vectors) and
    cosines equal to 1e-9 (numpy pairwise sum vs strict left fold may
    differ in the last ulp)."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    emb = read_parquet_table(spark, f"{SF}/embeddings.parquet")
    qids = list(range(5))
    fold = brute_force_topk(emb, query_ids=qids, k=5).collect()
    arrow = brute_force_topk_arrow(emb, query_ids=qids, k=5).collect()
    f = {(r["query_id"], r["rank"]): r for r in fold}
    a = {(r["query_id"], r["rank"]): r for r in arrow}
    assert f.keys() == a.keys()
    for key in f:
        assert f[key]["neighbor_id"] == a[key]["neighbor_id"], key
        assert abs(f[key]["cosine"] - a[key]["cosine"]) < 1e-9, key


def test_brute_force_topk_arrow_zero_norm_is_null_ranked_last(spark):
    """ADVICE r03: a zero-norm candidate must come back as SQL NULL
    cosine (ranked LAST by the DESC window, matching the fold path's
    try_divide), not numpy NaN — Spark orders NaN above every number,
    which ranked degenerate vectors FIRST."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero norm → cosine undefined
        (3, [0.5, 0.5, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    arrow = brute_force_topk_arrow(emb, query_ids=[0], k=4).collect()
    fold = brute_force_topk(emb, query_ids=[0], k=4).collect()
    by_rank = {r["rank"]: r for r in arrow}
    # the zero-norm vector is last, with NULL (None) cosine, both paths
    assert by_rank[4]["neighbor_id"] == 2 and by_rank[4]["cosine"] is None
    f_by_rank = {r["rank"]: r for r in fold}
    assert f_by_rank[4]["neighbor_id"] == 2 and f_by_rank[4]["cosine"] is None
    # non-degenerate ranks agree across paths
    for rk in (1, 2, 3):
        assert by_rank[rk]["neighbor_id"] == f_by_rank[rk]["neighbor_id"]
