"""Graph primitive unit tests: degree profile, degree orientation
invariants, triangle counts on graphs with known answers."""

from __future__ import annotations

from itertools import combinations

from data_engineering_for_e_commerce_logistics_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src int, dst int"
    )


def test_degrees(spark):
    deg = {
        r.node: r.degree
        for r in graph.degrees(_edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)]))
        .collect()
    }
    assert deg == {1: 2, 2: 2, 3: 3, 4: 1}


def test_orientation_is_total_and_preserves_edges(spark):
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4)]
    out = graph.orient_by_degree(_edges(spark, pairs)).collect()
    assert len(out) == len(pairs)
    # orientation must be a permutation of the input edge set
    assert {frozenset((r.lo, r.hi)) for r in out} == {
        frozenset(p) for p in pairs
    }


def test_triangle_count_known_graphs(spark):
    k4 = list(combinations(range(4), 2))
    assert graph.triangle_count(_edges(spark, k4)).first().triangles == 4

    square_with_diagonal = [(0, 1), (1, 2), (2, 3), (0, 3), (0, 2)]
    assert (
        graph.triangle_count(_edges(spark, square_with_diagonal))
        .first()
        .triangles
        == 2
    )

    triangle_free = [(0, 1), (1, 2), (2, 3), (0, 3)]  # plain 4-cycle
    assert (
        graph.triangle_count(_edges(spark, triangle_free)).first().triangles == 0
    )


def test_triangle_count_matches_bruteforce(spark):
    # deterministic pseudo-random graph on 30 nodes
    pairs = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                ((i * 7 + 3) % 30, (i * 13 + 11) % 30) for i in range(120)
            )
            if a != b
        }
    )
    adj = {p for p in pairs}
    expected = sum(
        1
        for a, b, c in combinations(range(30), 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    got = graph.triangle_count(_edges(spark, pairs)).first().triangles
    assert got == expected


def test_copurchase_window_subset_of_full(spark):
    """The windowed co-purchase edge list (the contract query's graph)
    must be a subset of the full-history graph (bounds=None)."""
    from data_engineering_for_e_commerce_logistics_spark.plans.graph_queries import (
        _copurchase_edges,
    )

    sf = "/root/testdata/sf0.001"
    windowed = _copurchase_edges(spark, sf)
    full = _copurchase_edges(spark, sf, bounds=None)
    assert windowed.count() > 0
    assert windowed.exceptAll(full).count() == 0
    assert full.count() >= windowed.count()


def test_connected_components_chain_and_isolated(spark):
    """Extracted CC primitive: a 3-chain collapses to one min label, a
    separate pair keeps its own, isolated nodes are absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.node: r.label for r in graph.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_matches_union_find(spark):
    """The fixpoint labels every node with its component's minimum id
    on one graph holding random components, a chain and a star in
    disjoint id ranges (checked against a Python union-find)."""
    import random

    rng = random.Random(9)
    pairs = []
    base = 0
    for n, m in ((12, 8), (30, 25), (40, 40)):
        pairs += [
            (base + rng.randrange(n) + 1, base + rng.randrange(n) + 1)
            for _ in range(m)
        ]
        base += 100
    pairs += [(base + i, base + i + 1) for i in range(1, 11)]  # chain
    base += 100
    pairs += [(base + 1, base + k) for k in range(2, 15)]  # star
    pairs = [(a, b) for a, b in pairs if a != b]

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.label for r in graph.connected_components(df).collect()}
    assert got == want
    assert len(set(want.values())) > 5  # many components covered


def test_corpus_split_no_leakage_matches_duckdb_and_invariant(spark):
    """r08 registry candidate's unit-first differential + the property
    the spec exists for: every mined near-dup pair lands in ONE split,
    and singleton docs reproduce the plain hash split exactly."""
    from data_engineering_for_e_commerce_logistics_spark.operators import dedup
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        extended_queries as xq,
    )
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = gq.corpus_split_no_leakage(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(gq.CORPUS_SPLIT_NO_LEAKAGE_SQL).fetchdf()
    finally:
        conn.close()
    assert len(spdf) == 500  # one row per document
    assert compare_frames(spdf, opdf, "corpus_split_no_leakage") == []

    split_of = dict(zip(spdf.doc_id, spdf.split))
    rep_of = dict(zip(spdf.doc_id, spdf.rep_id))
    docs = load_tables(spark, sf, ("documents",))["documents"]
    pairs = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=xq.NUM_HASHES,
        bands=xq.BANDS,
        shingle_k=xq.SHINGLE_K,
        threshold=xq.THRESHOLD,
    ).collect()
    assert pairs, "fixture must mine at least one near-dup pair"
    for p in pairs:
        assert split_of[p.id_a] == split_of[p.id_b], (p.id_a, p.id_b)
        assert rep_of[p.id_a] == rep_of[p.id_b]
    # singletons (never in a pair) key on themselves → identical to
    # the per-document split rule
    in_pairs = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    import hashlib

    for doc_id, rep in rep_of.items():
        if doc_id not in in_pairs:
            assert rep == doc_id
            nib = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
            want = "train" if nib < "d" else ("val" if nib < "f" else "test")
            assert split_of[doc_id] == want


def test_corpus_split_suite_matches_duckdb_oracle(spark):
    """The r08 consolidation's differential, proven pre-registration:
    padded union of the plain split+sample and the leakage-safe split,
    cell-exact vs the single WITH RECURSIVE oracle at sf0.01."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = gq.corpus_split_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(gq.CORPUS_SPLIT_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    assert len(spdf) == 1000  # 500 docs × 2 variants
    assert compare_frames(spdf, opdf, "corpus_split_suite") == []


def test_minhash_cluster_suite_matches_duckdb_and_parts(spark):
    """The r13 consolidation: ONE cached LSH miner pass must serve
    both retiring specs' rows verbatim — ``dedup_minhash_lsh``'s
    verified pairs and ``dedup_clusters``'s component labels — and
    the union must match the WITH RECURSIVE DuckDB oracle."""
    import math

    from data_engineering_for_e_commerce_logistics_spark.plans import (
        extended_queries as xq,
    )
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = gq.minhash_cluster_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(gq.MINHASH_CLUSTER_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "minhash_cluster_suite") == []

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for _, r in spdf[spdf.variant == "pairs"].iterrows()
    }
    got_pairs = xq.dedup_minhash_lsh(spark, sf).collect()
    assert len(got_pairs) == len(pairs) > 0
    for r in got_pairs:
        assert math.isclose(
            pairs[(r.id_a, r.id_b)], r.jaccard, rel_tol=0, abs_tol=0
        )
    labels = {
        r.doc_id: r.cluster_id
        for _, r in spdf[spdf.variant == "clusters"].iterrows()
    }
    got_clusters = gq.dedup_clusters(spark, sf).collect()
    assert len(got_clusters) == len(labels) > 0
    for r in got_clusters:
        assert labels[r.doc_id] == r.cluster_id


def test_pinned_loop_conf_restores_on_success_and_error(spark):
    """The small-graph conf pin (r11): inside the context AQE is off
    and the shuffle width equals the measured p; after it — including
    when the body raises — the session sees its own settings again,
    and active=False touches nothing."""
    import pytest

    from data_engineering_for_e_commerce_logistics_spark.operators.graph import (
        _pinned_loop_conf,
    )

    before = (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    with _pinned_loop_conf(spark, True, 1):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    ) == before

    with pytest.raises(RuntimeError, match="boom"):
        with _pinned_loop_conf(spark, True, 7):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
            raise RuntimeError("boom")
    assert (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    ) == before

    with _pinned_loop_conf(spark, False, 1):
        assert (
            spark.conf.get("spark.sql.adaptive.enabled"),
            spark.conf.get("spark.sql.shuffle.partitions"),
        ) == before


def test_ngram_topk_two_stage_matches_single_window(spark):
    """r11 differential for the salted two-stage top-k: bigram counts
    tie heavily at sf0.01 (the (n desc, bigram asc) tie-break does
    real work), so equality against the plain per-lang window pins
    that no true top-5 row can be lost to a salt bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        load_tables,
    )
    from data_engineering_for_e_commerce_logistics_spark.operators import dedup
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    sf = "/root/testdata/sf0.01"
    got = {
        (r.lang, r.rank): (r.bigram, r.n)
        for r in gq.ngram_frequencies(spark, sf).collect()
    }
    docs = load_tables(spark, sf, ("documents",))["documents"]
    toks = docs.select("lang", F.split("text", " ").alias("__toks"))
    counts = toks.select(
        "lang",
        F.explode(dedup.shingles_from_tokens("__toks", 2)).alias("bigram"),
    ).groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("bigram").asc()
    )
    want = {
        (r.lang, r.rank): (r.bigram, r.n)
        for r in counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == want and len(got) > 0
