"""Incremental PQ dedup (fifth incremental family, the r13 debut):
compressed code index + triangle-inequality-sound ADC screen + by-id
exact verify.  Pins the DuckDB differential, the bit-identity with an
exact-index replay (the soundness theorem, empirically), and the
always-catches-replicas property."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
    incremental_pq_dedup,
    pq_train_encode,
)
from data_engineering_for_e_commerce_logistics_spark.plans import graph_queries as gq
from data_engineering_for_e_commerce_logistics_spark.plans.extended_queries import (
    INC_B1_LT,
    INC_B2_GE,
    INC_OFFSET,
)

SF001 = "/root/testdata/sf0.001"
SF = "/root/testdata/sf0.01"


def test_incremental_pq_fresh_matches_duckdb(spark):
    from tests.oracle import compare_frames, duckdb_conn

    spdf = gq.incremental_pq_fresh(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    try:
        opdf = conn.execute(gq.INCREMENTAL_PQ_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "incremental_pq_fresh") == []
    assert set(spdf.ingest_batch.unique()) == {1, 2}
    # the screen provably fired: batch 2 re-ingests 20% of batch 1
    # verbatim, so batch 2 keeps fewer than its raw size
    n_b2_raw = (spdf.ingest_batch == 2).sum()
    conn = duckdb_conn(SF)
    try:
        raw = conn.execute(
            f"SELECT count(*) FROM embeddings WHERE vec_id % 10 >= {INC_B2_GE}"
        ).fetchone()[0]
    finally:
        conn.close()
    assert n_b2_raw < raw


def _exact_replay(vecs, cells, theta, b1_ids, b2_pairs):
    """Reference kept-set under the SAME rule with a FULL-VECTOR
    index (no quantization): the compressed screen must reproduce
    this exactly, because it is sound."""
    # the within-batch rule is "any lower-id batch member", kept or
    # not — mirror it exactly
    kept1 = [
        xid
        for xid in sorted(b1_ids)
        if not any(
            cells[yid] == cells[xid]
            and sum((a - b) ** 2 for a, b in zip(vecs[xid], vecs[yid])) <= theta
            for yid in b1_ids
            if yid < xid
        )
    ]
    kept2 = []
    for new_id, orig in sorted(b2_pairs):
        within = any(
            cells[o2] == cells[orig]
            and sum((a - b) ** 2 for a, b in zip(vecs[orig], vecs[o2])) <= theta
            for n2, o2 in b2_pairs
            if n2 < new_id
        )
        cross = any(
            cells[y] == cells[orig]
            and sum((a - b) ** 2 for a, b in zip(vecs[orig], vecs[y])) <= theta
            for y in kept1
        )
        if not (within or cross):
            kept2.append(new_id)
    return set(kept1), set(kept2)


def test_compressed_screen_bit_identical_to_exact_index(spark):
    """The soundness theorem, empirically: the PQ screen never loses
    a true dup, so (screen + exact verify) keeps EXACTLY what a
    full-vector index would keep."""
    emb = read_parquet_table(spark, f"{SF001}/embeddings.parquet")
    out = gq.incremental_pq_fresh(spark, SF001).toPandas()

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    cents = {i: vecs[i] for i in sorted(vecs) if i < gq.ROUTED_K}
    cells = {}
    for vid, v in vecs.items():
        best = min(
            cents.items(),
            key=lambda kv: (
                sum((a - b) ** 2 for a, b in zip(v, kv[1])),
                kv[0],
            ),
        )
        cells[vid] = best[0]
    b1_ids = [i for i in vecs if i % 10 < INC_B1_LT]
    b2_pairs = [(i + INC_OFFSET, i) for i in vecs if i % 10 >= INC_B2_GE]
    kept1, kept2 = _exact_replay(vecs, cells, gq.INC_PQ_THETA, b1_ids, b2_pairs)
    got1 = set(out[out.ingest_batch == 1].vec_id)
    got2 = set(out[out.ingest_batch == 2].vec_id)
    assert got1 == kept1
    assert got2 == kept2


def test_replicas_always_caught_and_index_is_codes(spark):
    """x == y gives ADC = resid_y exactly, so exact replicas pass the
    screen at ANY codebook resolution; and the index delta really is
    codes (n_sub rows per kept vector, codes in [0, k))."""
    emb = read_parquet_table(spark, f"{SF001}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < gq.ROUTED_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    _, codebook = pq_train_encode(
        emb, dim=gq.EMB_DIM, n_sub=gq.PQ_SUB, k=gq.PQ_K, n_refine=1
    )
    codebook = codebook.localCheckpoint()
    b1 = emb.where(F.col("vec_id") % 10 < INC_B1_LT)
    _, delta1 = incremental_pq_dedup(
        b1, None, centroids, codebook, gq.INC_PQ_THETA,
        dim=gq.EMB_DIM, n_sub=gq.PQ_SUB,
    )
    delta1 = delta1.localCheckpoint()
    d1 = delta1.toPandas()
    kept1 = set(d1.vec_id.unique())
    assert (d1.groupby("vec_id").size() == gq.PQ_SUB).all()
    assert d1.code.between(0, gq.PQ_K - 1).all()
    assert (d1.resid >= 0).all()

    # re-ingest kept batch-1 vectors verbatim under shifted ids: every
    # one must be dropped (its source is in the index, distance 0)
    replay = b1.join(
        delta1.select("vec_id").distinct(), "vec_id", "left_semi"
    ).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    fresh, _ = incremental_pq_dedup(
        replay, delta1, centroids, codebook, gq.INC_PQ_THETA,
        dim=gq.EMB_DIM, n_sub=gq.PQ_SUB, corpus_lookup=b1,
    )
    survivors = {r.vec_id for r in fresh.select("vec_id").collect()}
    # a replica can only survive if a lower-id replica in the SAME
    # re-ingest batch isn't its dup — impossible here since each kept
    # source is within theta of itself; but two distinct kept sources
    # are NOT within theta of each other (they survived batch 1), so
    # the within-batch rule never fires and the index screen must
    # catch every single one
    assert survivors == set()
    assert len(kept1) > 0


def test_incremental_pq_requires_lookup(spark):
    import pytest

    emb = read_parquet_table(spark, f"{SF001}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < gq.ROUTED_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    _, codebook = pq_train_encode(
        emb, dim=gq.EMB_DIM, n_sub=gq.PQ_SUB, k=gq.PQ_K, n_refine=1
    )
    idx = emb.limit(0).selectExpr(
        "vec_id", "vec_id AS cell", "0 AS m", "0 AS code",
        "CAST(0.0 AS DOUBLE) AS resid"
    )
    with pytest.raises(ValueError):
        incremental_pq_dedup(
            emb, idx, centroids, codebook, 1.0, dim=64, n_sub=4
        )
