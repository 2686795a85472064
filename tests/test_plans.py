"""Physical-plan regression guards: the scale properties (pushdown,
pruning, broadcast, no-shuffle bucketing) are asserted, not assumed —
a refactor that silently loses them fails here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    # Pin the COLD plan: suite builders legitimately .cache() their
    # shared frames, and Spark's CacheManager substitutes any matching
    # logical subtree from EARLIER tests with InMemoryRelation — which
    # hides the parquet scan's PushedFilters/ReadSchema these guards
    # assert on (ordering-dependent flake, first seen r10).
    spark.catalog.clearCache()
    df = all_specs()[name].build(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_of(spark, builder) -> str:
    """Plan of a builder that is no longer registered under its own
    name (r06 consolidation merged q5/q7/q8 and the retrieval legs
    into suites) — the per-variant plan guards still pin each branch,
    which the suite union executes unchanged.  Cold-plan pinned like
    ``_plan`` (cleared cache) for the same substitution reason."""
    spark.catalog.clearCache()
    return builder(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_pricing(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_order_summary(spark):
    plan = _plan(spark, "v_order_summary")
    # lineitem scan must read only the 4 needed columns
    lineitem_schemas = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if "l_orderkey" in seg.split("\n")[0]
    ]
    assert lineitem_schemas, "no lineitem scan found"
    for rs in lineitem_schemas:
        assert "l_comment" not in rs
        assert rs.count(":") <= 5  # few columns, not the full table
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "top_orders")


def test_query_id_pushdown_embeddings(spark):
    from data_engineering_for_e_commerce_logistics_spark.plans.extended_queries import (
        embedding_topk,
    )

    plan = _plan_of(spark, embedding_topk)
    assert "In(vec_id" in plan


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """partitionBy replaces the reference's B-tree indexes: a filter on
    the partition column prunes directories (PartitionFilters), not
    rows."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.sources.sinks import (
        write_parquet,
    )

    ev = read_parquet_table(spark, "/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "events_by_type")
    write_parquet(ev, path, mode="overwrite", partition_by=["event_type"])

    filtered = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert filtered.count() == n_click


def test_missing_source_raises(spark):
    """Reference §5 error path: missing file surfaces clearly."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables

    with pytest.raises(FileNotFoundError, match="no parquet tables"):
        load_tables(spark, "/nonexistent/dir")


def test_q7_q8_broadcast_dims_single_fact_shuffle(spark):
    """The Q7/Q8 shapes keep every dimension join broadcast; the only
    exchanges are the lineitem⨝orders sides and the final aggregate."""
    from data_engineering_for_e_commerce_logistics_spark.plans.analytics_queries import (
        q7_nation_pair_volume,
        q8_market_share,
    )

    for builder in (q7_nation_pair_volume, q8_market_share):
        plan = _plan_of(spark, builder)
        name = builder.__name__
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan or plan.count("Exchange hashpartitioning") <= 4, name


def test_pack_sequences_window_is_sharded(spark):
    """The packing window must partition on (source, shard) — a global
    ordered window (single-partition Exchange) would be the 100 TB
    scale-killer this operator exists to avoid."""
    plan = _plan(spark, "corpus_pack_sequences")
    assert "Exchange SinglePartition" not in plan
    assert "partitionBy=[source" in plan.replace(" ", "") or "source" in plan


def test_decontaminate_broadcasts_benchmark(spark):
    # retired r13 into corpus_decon_suite; the builder still backs the
    # suite's exact leg, so the guard pins it via _plan_of
    from data_engineering_for_e_commerce_logistics_spark.plans.corpus_queries import (
        corpus_decontaminate,
    )

    plan = _plan_of(spark, corpus_decontaminate)
    assert "BroadcastHashJoin" in plan


def test_decon_suite_broadcasts_benchmark_all_legs(spark):
    """The registered suite (r13 debut): every leg's benchmark side
    must broadcast — no exact/fuzzy/semantic leg may shuffle the
    corpus against the (tiny) benchmark."""
    plan = _plan(spark, "corpus_decon_suite")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_domain_mix_broadcasts_rates(spark):
    # retired r10 into corpus_mix_suite; the builder still backs the
    # suite's uniform leg, so the guard pins it via _plan_of
    from data_engineering_for_e_commerce_logistics_spark.plans.corpus_queries import (
        corpus_domain_mix,
    )

    plan = _plan_of(spark, corpus_domain_mix)
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan.split("BroadcastHashJoin")[0]


def test_basket_pairs_single_scan_take_ordered(spark):
    """Pair expansion must NOT self-join the fact table (two scans +
    two shuffles); the in-array combination form scans lineitem once,
    and the top-N is TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "basket_pairs")
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_ivf_topk_broadcasts_probes(spark):
    """The probe→cell join must broadcast the (queries × nprobe) side;
    a shuffled candidate join would move the corpus for a handful of
    query rows."""
    from data_engineering_for_e_commerce_logistics_spark.plans.graph_queries import (
        ivf_topk,
    )

    plan = _plan_of(spark, ivf_topk)
    assert "BroadcastHashJoin" in plan


def test_pagerank_iterates_on_long_keys(spark):
    """Rank-state shuffles must hash 8-byte longs, not strings: the
    's:'/'c:' labels may appear only in the final projection, never in
    an Exchange hashpartitioning key."""
    plan = _plan(spark, "supplier_pagerank")
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",")[0]
        assert "concat" not in key and "s:" not in key, key


def test_rfm_segments_no_window_no_global_sort(spark):
    """r02's perf-weak plan ran three un-partitioned ntile windows
    (every customer through one task).  The bracketed-selection form
    must contain NO window operator and no global sort at all."""
    plan = _plan(spark, "rfm_segments")
    assert "Window" not in plan
    assert "ntile" not in plan


def _build_cost(spark, name: str) -> tuple[int, int]:
    """Build spec ``name`` under a job group; return the Spark jobs and
    the SQL executions (one per driver action) the build started.  A
    first build warms the catalog's scan memo: reading a parquet
    table's schema the first time is a job of the catalog's, not of
    the builder's."""
    all_specs()[name].build(spark, SF)
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    spark.catalog.clearCache()
    bus.waitUntilEmpty()
    held = store.executionsCount()
    last = store.executionsList(held - 1, 1).head().executionId() if held else -1
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        all_specs()[name].build(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker and store are fed by the listener bus, asynchronously
    bus.waitUntilEmpty()
    actions = 0
    while store.execution(last + 1 + actions).isDefined():
        actions += 1
    return len(sc.statusTracker().getJobIdsForGroup(group)), actions


@pytest.mark.parametrize("name", ["dedup_simhash_suite", "profile_lineitem"])
def test_lazy_builds_run_no_job(spark, name):
    """Both builders return lazy plans: building one starts no job."""
    assert _build_cost(spark, name) == (0, 0)


def test_rfm_build_runs_at_most_four_actions(spark):
    """The boundary selection fuses the count into its sketch, and each
    histogram collect with its base counts: 2 actions, +2 when a
    boundary splits a tie group."""
    jobs, actions = _build_cost(spark, "rfm_segments")
    assert 2 <= actions <= 4 and jobs >= actions, (jobs, actions)


def test_ntile_exact_boundaries_matches_ntile(spark):
    """Synthetic heavy-tie data (splits tie groups on every boundary)
    scored via literal boundaries must equal real ntile(k) for both
    directions, at k=4 and k=10, on tiny inputs (n below k: empty
    buckets) and on one of 1001 rows; n comes from the fused
    count-and-sketch action."""
    from pyspark.sql import Window

    from data_engineering_for_e_commerce_logistics_spark.plans.analytics_queries import (
        _ntile_exact_boundaries,
        _ntile_score_col,
    )

    for n in (1, 3, 5, 1001):
        rows = [(i, (i * 7) % 5) for i in range(1, n + 1)]  # 5 fat tie groups
        df = spark.createDataFrame(rows, "ck bigint, v bigint").repartition(8)
        df = df.persist()
        for k in (4, 10):
            for desc in (False, True):
                bounds = _ntile_exact_boundaries(df, [("v", desc)], "ck", k=k)
                order = F.col("v").desc() if desc else F.col("v").asc()
                wrong = df.select(
                    _ntile_score_col("v", "ck", bounds["v"], "bigint").alias("got"),
                    F.ntile(k)
                    .over(Window.orderBy(order, F.col("ck").asc()))
                    .cast("long")
                    .alias("want"),
                ).filter("got <> want")
                assert wrong.count() == 0, (n, k, desc, bounds)
        df.unpersist()


def test_ntile_exact_boundaries_empty_input(spark):
    """ADVICE r03: n == 0 must early-return empty boundaries (every
    row in bucket 1 over an empty frame), not ZeroDivisionError."""
    from data_engineering_for_e_commerce_logistics_spark.plans.analytics_queries import (
        _ntile_exact_boundaries,
        _ntile_score_col,
    )

    df = spark.createDataFrame([], "ck bigint, v bigint")
    bounds = _ntile_exact_boundaries(df, [("v", False)], "ck")
    assert bounds == {"v": []}
    scored = df.select("ck", _ntile_score_col("v", "ck", bounds["v"], "bigint"))
    assert scored.count() == 0


def test_ivm_refresh_broadcasts_delta(spark):
    """The delta aggregate (changed keys only) must broadcast into the
    merge join; the base aggregate must not single-partition."""
    plan = _plan(spark, "ivm_spend_refresh")
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_rolling_window_is_partitioned(spark):
    """The RANGE-frame window must run partitioned by customer — a
    global time-ordered window would single-task the fact table."""
    plan = _plan(spark, "customer_rolling_7d_spend")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_salted_rollup_two_phase(spark):
    """Salted aggregation = two aggregate phases (key+salt, then key);
    never a single-partition exchange."""
    plan = _plan(spark, "salted_rollup_events")
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 phases
    assert "SinglePartition" not in plan


def test_profile_and_cardinality_have_no_expand(spark):
    """r05: multiple countDistinct in one aggregation lowers to an
    Expand (one duplicated input row per distinct group — N+1× the
    exchange volume).  Both profilers now split exact distincts into
    per-column pre-aggregated jobs, so no Expand node may appear."""
    for name in ("profile_lineitem", "agg_cardinality_lineitem"):
        plan = _plan(spark, name)
        assert "Expand" not in plan, name


def test_text_analysis_suite_no_exchange(spark):
    """The merged text suite is four per-row expression legs under one
    union: no KEYED Exchange anywhere (a hash/range shuffle here would
    be a regression — the legs are pure maps), and every leg's scan
    prunes to the columns it needs (never the full documents table).
    The guarded round-robin fan-out (r14, functions/spread.py) is the
    ONE sanctioned exchange kind: it spreads an under-split scan's
    per-row work and vanishes at scale."""
    plan = _plan(spark, "text_analysis_suite")
    keyed = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert not keyed, keyed
    assert plan.count("FileScan parquet") == 4
    for seg in plan.split("ReadSchema: ")[1:]:
        rs = seg.split("\n")[0]
        assert "source" not in rs and "label" not in rs  # unused columns


def test_incremental_semdedup_fresh_broadcast_only_prework(spark):
    """The fourth family's screen: centroid assignment is a BROADCAST
    nested-loop over the bounded codebook (never a shuffled cross
    join), and the cell-keyed rival join stays a hash join — the plan
    whose exchange tracks batch cells, not |index|."""
    plan = _plan(spark, "incremental_semdedup_fresh")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the two NOT-EXISTS screens + fresh semi-join surface as hash joins
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_span_dedup_two_exchange_budget(spark):
    """VERDICT r07 ask #7: span_dedup's scale shape is exactly one
    span-keyed exchange (the global first-occurrence ranking) plus one
    doc-keyed exchange (reassembly agg) — the same two-shuffle budget
    as exact doc-level dedup, on spans.  The docs-spine restore join
    must ride a broadcast, and nothing may expand to all-pairs."""
    plan = _plan(spark, "corpus_span_dedup")
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
        or "Exchange SinglePartition" in line
    ]
    assert len(shuffles) == 2, shuffles
    assert sum("span_text" in s for s in shuffles) == 1, shuffles
    assert sum("doc_id" in s and "span_text" not in s for s in shuffles) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the id-spine restore


def test_corpus_split_suite_banded_no_all_pairs(spark):
    """VERDICT r07 ask #7: the suite's no-leakage variant mines its
    near-dup pairs through LSH BANDING (band-struct explode → band
    bucket join), never the quadratic all-pairs scan.  The component
    fixpoint caches its edge list, so the banding shows up behind an
    InMemoryTableScan in the suite's final plan — assert it on the
    miner's own plan (the exact frame the suite feeds the fixpoint),
    and hold the suite plan to no-cartesian plus a key whitelist on
    every hash exchange."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables
    from data_engineering_for_e_commerce_logistics_spark.operators import dedup
    from data_engineering_for_e_commerce_logistics_spark.plans.extended_queries import (
        BANDS,
        NUM_HASHES,
        SHINGLE_K,
        THRESHOLD,
    )

    docs = load_tables(spark, SF, ("documents",))["documents"]
    miner = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    )
    miner_plan = miner._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in miner_plan  # the band-struct explode
    assert "hashpartitioning(band" in miner_plan  # band-bucket exchange
    assert "CartesianProduct" not in miner_plan
    assert "BroadcastNestedLoopJoin" not in miner_plan

    plan = _plan(spark, "corpus_split_suite")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every shuffle in the suite rides a split/LSH/graph key — nothing
    # may expand to an unkeyed exchange over documents×documents.
    keyed = ("lang", "doc_id", "node", "src", "rep_id", "id_a", "band",
             "split")
    wide = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert all(any(k in s for k in keyed) for s in wide), wide


def test_routed_assign_two_broadcast_levels(spark):
    """Two-level routing: both the super table and the grouped
    centroid table ride broadcasts — no shuffle before the per-vector
    windows (the final spec orderBy's range partitioning is the only
    non-window exchange allowed)."""
    # retired r10 into ann_assign_suite; the builder still backs the
    # suite's routed leg, so the guard pins it via _plan_of
    from data_engineering_for_e_commerce_logistics_spark.plans.graph_queries import (
        routed_assign_embeddings,
    )

    plan = _plan_of(spark, routed_assign_embeddings)
    assert "BroadcastNestedLoopJoin" in plan  # vectors × supers scoring
    assert "BroadcastHashJoin" in plan  # routed join to centroid groups
    assert "CartesianProduct" not in plan


def test_token_budget_sample_no_global_sort(spark):
    """The exact global prefix-sum must come from per-shard window
    cumsums + broadcast shard offsets — one (source, shard)-keyed wide
    exchange, a broadcast join for the offsets, and NO
    rangepartitioning (a global sort would serialize each source)."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables
    from data_engineering_for_e_commerce_logistics_spark.operators import corpus

    docs = load_tables(spark, SF, ("documents",))["documents"]
    plan = (
        corpus.token_budget_sample(docs, 700)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # tiny offsets ride a broadcast
    wide = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    # every exchange is source-keyed: the corpus-wide window shuffles
    # on (source, shard); the remaining source-only exchanges sit on
    # the ≤ 16×n_sources offsets aggregate (tiny by construction)
    assert wide and all("source" in s for s in wide), wide
    assert any("source" in s and "shard" in s for s in wide), wide


def test_shuffle_shard_single_shard_keyed_window(spark):
    """One hash exchange on the shard key feeding the per-shard
    position window; no global sort, no join at all."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables
    from data_engineering_for_e_commerce_logistics_spark.operators import corpus

    docs = load_tables(spark, SF, ("documents",))["documents"]
    plan = (
        corpus.shuffle_shard(docs, 8, seed=42)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    wide = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(wide) == 1 and "shard" in wide[0], wide


def test_kmeans_suite_broadcast_assignments_no_cartesian(spark):
    """Every Lloyd assignment rides a broadcast of the (bounded)
    centroid side — the suite must show only BroadcastNestedLoopJoin
    over the broadcast centroids (the scored crossJoin pattern every
    assignment here uses) plus the final vec_id-keyed refine join, and
    never a CartesianProduct over the vectors."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.kmeans_suite)
    assert "CartesianProduct" not in plan


def test_pq_suite_broadcast_codebook_no_cartesian(spark):
    """PQ's scale contract: the codebook (n_sub*k rows) and the ADC
    distance table (n_q*n_sub*k rows) are the ONLY join sides, and
    both must ride broadcasts — every assignment/lookup join is a
    BroadcastHashJoin on the subspace key, never a shuffle join over
    the vectors and never an all-pairs product."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.pq_suite)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ann_assign_suite_broadcast_only_joins(spark):
    """The merged coarse-assign suite keeps both parts' shapes: every
    centroid/super scoring join broadcasts the bounded side (the ivf
    leg's scored crossJoin shows as BroadcastNestedLoopJoin), with no
    CartesianProduct and no shuffle join anywhere."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.ann_assign_suite)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ivfpq_suite_broadcast_only_no_cartesian(spark):
    """IVF-PQ's scale contract: coarse scoring rides the broadcast
    centroid pattern (BroadcastNestedLoopJoin), the codebook and the
    per-query distance table ride BroadcastHashJoins, and nothing is
    ever an unhinted shuffle join or all-pairs product."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.ivfpq_suite)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_semdedup_suite_single_cached_miner(spark):
    """The r12 consolidation's point is ONE miner pass: the suite's
    plan must read the pair evidence from InMemoryTableScan (the
    cached frame), the keep variant's anti join must be a broadcast
    (the drop set is bounded by topk*cells), and the only shuffle
    joins are the miner's own cell-keyed self-join."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.semdedup_suite)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "cell" in line and "LeftAnti" not in line, line
    assert "BroadcastHashJoin" in plan  # the LeftAnti drop-set join


def test_minhash_cluster_suite_single_cached_miner(spark):
    """The r13 consolidation's point is ONE LSH miner pass:
    ``dedup_clusters`` used to replay shingle -> signature -> bands ->
    bucket join -> verify that ``dedup_minhash_lsh`` already ran.  The
    suite's plan must serve the pairs variant from InMemoryTableScan
    (the cached verified-pairs frame) and never fall back to a
    cartesian product anywhere in the union."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.minhash_cluster_suite)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_incremental_pq_broadcast_only_quantizers(spark):
    """The fifth incremental family's screen: both fixed quantizers
    (coarse centroids, PQ codebook) reach the batch via BROADCAST —
    the centroid assign as a broadcast nested-loop over the bounded
    centroid set, the codeword scoring as a broadcast hash join on m —
    and nothing in the plan is a shuffled cartesian.  The only
    shuffles are batch-keyed (cell rivals, id windows), so the plan's
    exchange volume tracks the BATCH, not the index or the corpus."""
    plan = _plan(spark, "incremental_pq_fresh") if (
        "incremental_pq_fresh" in __import__(
            "data_engineering_for_e_commerce_logistics_spark.plans.registry",
            fromlist=["all_specs"],
        ).all_specs()
    ) else None
    if plan is None:  # unit-first: not registered until its r13 slot
        from data_engineering_for_e_commerce_logistics_spark.plans import (
            graph_queries as gq,
        )

        plan = _plan_of(spark, gq.incremental_pq_fresh)
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_fuzzy_broadcasts_benchmark(spark):
    """The fuzzy decon's 100 TB shape: the benchmark side (bounded —
    eval suites) reaches the corpus ONLY via broadcast (banded buckets
    + signature relation), so no shuffle is ever keyed on benchmark
    data; the corpus side's own joins may shuffle on its id but never
    on the bench id, and nothing degenerates to a cartesian."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )

    plan = _plan_of(spark, xc.corpus_decontaminate_fuzzy)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # bands + signatures
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "__bid" not in line, line


def test_incremental_dedup_suite_shared_cached_scan(spark):
    """The r14 consolidation's point: the three family flows read the
    documents table from ONE cached frame (InMemoryTableScan), not
    three separate parquet scans, and nothing is a cartesian."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        extended_queries as xq,
    )

    plan = _plan_of(spark, xq.incremental_dedup_suite)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_decontaminate_semantic_map_only_corpus(spark):
    """The semantic decon's 100 TB shape is MAP-ONLY over the corpus:
    the benchmark collapses to one broadcast row (its tiny agg may
    exchange, bounded by the benchmark), but the corpus side is never
    hash-partitioned, never sort-merge-joined, never aggregated — the
    only join is the broadcast nested loop against the one-row bench.
    (An under-split scan may add one conditional ROUND-ROBIN exchange
    of the raw vectors — the compute-density fix measured in SCALE.md
    r08 — which is allowed; key-partitioning the corpus is not.)"""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    plan = _plan_of(spark, gq.corpus_decontaminate_semantic)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_corpus_decon_suite_shared_cached_docs(spark):
    """The r16 consolidation's point: the two text-side decon legs
    read the documents table from ONE cached frame; nothing anywhere
    in the union degenerates to a cartesian (the semantic leg's
    one-row bench broadcast is a BroadcastNestedLoopJoin, which is
    the designed shape, not a fallback)."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )

    plan = _plan_of(spark, xc.corpus_decon_suite)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the semantic leg's bench row


def test_quality_calibrate_bucketed_rank_shape(spark):
    """Domain calibration's 100 TB shape (r11 rewrite): the exact-rank
    window partitions on (source, bucket) — parallelism is domains ×
    n_buckets, never one task per mega-domain (the old single-window
    form measured 278× the sf0.1 wall at sf125 vs ~35× for map-shaped
    families) — both side frames (boundaries, offsets) join by
    BROADCAST, the scored projection is cached once for its two
    consumers, and nothing range-partitions or globally sorts."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )

    plan = _plan_of(spark, xc.quality_calibrate_domains)
    assert "hashpartitioning(source" in plan and "__bkt" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "InMemoryTableScan" in plan


def test_no_scale_killers_in_any_registered_plan(spark):
    """Registry-WIDE anti-pattern sweep (r11): every registered spec's
    physical plan — not just the showcased ones — must be free of the
    three patterns that cannot survive a 100 TB input:

    * ``CartesianProduct`` — an unkeyed shuffled cross join (the
      broadcast nested-loop form over a bounded side is legitimate and
      appears in the ANN/decon families; the shuffled cartesian never
      is);
    * ``BatchEvalPython`` — a row-at-a-time Python UDF in a registered
      path (Arrow/mapInPandas operators are deliberately unit-only);
    * ``GlobalLimit`` preceded by an unpartitioned ``Sort`` is allowed
      only via ``TakeOrderedAndProject`` (Spark's bounded top-k), so an
      un-bounded global ``Sort ... false, 0`` feeding anything other
      than ordered output is checked per-spec by the dedicated guards
      — here we assert the two universal patterns only.

    Specs whose builders run driver-side loops (CC fixpoints, BPE
    rounds) contribute the plan of their RETURNED frame; their
    per-iteration shapes have dedicated guards."""
    specs = all_specs()
    offenders: dict[str, list[str]] = {}
    for name, spec in specs.items():
        spark.catalog.clearCache()
        plan = spec.build(spark, SF)._jdf.queryExecution().executedPlan().toString()
        bad = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
