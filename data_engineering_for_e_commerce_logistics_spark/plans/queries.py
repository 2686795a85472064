"""All QuerySpec registrations, one place to audit name ↔ oracle pairs.

Builders live next to their operators; this module only wires them to
the registry consumed by ``__spark_entry__`` and the pytest harness.

REGISTRATION ORDER IS PART OF THE DRIVER CONTRACT: the driver's
correctness gate checks the first 50 registrations, so the order is
deliberate:

* positions 1-50: the flagship views, then every spec that has never
  been checked or whose implementation changed, then the backlog of
  specs whose newest green row is oldest;
* positions 51+: the specs green in the newest correctness run, which
  rotate back into the window the next round;
* last: rows-only specs (``oracle=None``).  They only ever get the
  weaker rows-only check, so they spend no verified slot.

``python tools/rotate_registry.py`` derives the next ordering from the
committed ``CORRECTNESS_r*.json`` artifacts and warns when the
mandatory set overflows the window.  ``tests/test_bench_gate.py``
checks that every never-checked spec sits inside the window and that
no rows-only spec spends a verified slot.
"""

from __future__ import annotations

from . import analytics_queries as aq
from . import cleaning_queries as cq
from . import corpus_queries as xc
from . import function_queries as fq
from . import graph_queries as gq
from . import extended_queries as xq
from . import relational_queries as rq
from . import views
from .registry import register

# --- 1-2: Flagship analytic views (always in-window) -------------------
register(
    "v_order_summary",
    views.v_order_summary,
    views.V_ORDER_SUMMARY_SQL,
    tags=("view", "join", "agg"),
)
register(
    "v_delivery_performance",
    views.v_delivery_performance,
    views.V_DELIVERY_PERFORMANCE_SQL,
    tags=("view", "join", "agg", "conditional-agg"),
)

# --- 3: r13 debut (never-checked — MUST be in-window): THE r13 TRADE —
# --- the decontamination suite (exact + fuzzy + semantic legs off one
# --- cached scan) subsumes corpus_decontaminate (retired from the
# --- r12-green half) and is funded by retiring incremental_exact_fresh
# --- (r11-green = THIS round's own backlog; the incremental dedup
# --- suite's exact leg preserves every cell) ---------------------------
register(
    "corpus_decon_suite",
    xc.corpus_decon_suite,
    xc.CORPUS_DECON_SUITE_SQL,
    ("corpus", "decontamination", "merged-variants", "suite"),
)

# --- 4-50: the r11-green stale backlog (CORRECTNESS r11 ∖ r12, oldest
# --- evidence first) minus the retired incremental_exact_fresh --------
register(
    "array_functions_documents",
    fq.array_functions_documents,
    fq.ARRAY_FUNCTIONS_SQL,
    ("scalar", "array"),
)
register(
    "asof_events_orders",
    aq.asof_events_orders,
    aq.ASOF_EVENTS_ORDERS_SQL,
    ("join", "asof", "temporal"),
)
register(
    "basket_pairs",
    aq.basket_pairs,
    aq.BASKET_PAIRS_SQL,
    ("agg", "market-basket", "pair-mining"),
)
register("binary_features", rq.binary_features, rq.BINARY_FEATURES_SQL, ("multimodal",))
register(
    "bpe_merges_documents",
    xc.bpe_merges_documents,
    xc.BPE_MERGES_SQL,
    ("text", "tokenizer", "bpe", "iterative", "multi-round"),
)
register(
    "coerce_timestamps_orders",
    cq.coerce_timestamps_orders,
    cq.COERCE_TIMESTAMPS_SQL,
    ("timestamps",),
)
register(
    "cohort_retention",
    aq.cohort_retention,
    aq.COHORT_RETENTION_SQL,
    ("agg", "cohort", "temporal"),
)
register(
    "corpus_chunk_documents",
    xc.corpus_chunk_documents,
    xc.CORPUS_CHUNK_SQL,
    ("corpus", "chunking"),
)
register(
    "corpus_export_suite",
    xc.corpus_export_suite,
    xc.CORPUS_EXPORT_SUITE_SQL,
    ("corpus", "sampling", "export"),
)
register(
    "corpus_lm_quality",
    xc.corpus_lm_quality,
    xc.CORPUS_LM_QUALITY_SQL,
    ("corpus", "quality", "lm"),
)
register(
    "correlated_above_avg_orders",
    aq.correlated_above_avg_orders,
    aq.CORRELATED_ABOVE_AVG_SQL,
    ("subquery",),
)
register(
    "customer_rolling_7d_spend",
    aq.customer_rolling_7d_spend,
    aq.CUSTOMER_ROLLING_7D_SQL,
    ("window", "range-frame", "temporal"),
)
register(
    "customer_running_spend",
    rq.customer_running_spend,
    rq.CUSTOMER_RUNNING_SPEND_SQL,
    ("window",),
)
register(
    "customer_spend_slope",
    aq.customer_spend_slope,
    aq.CUSTOMER_SPEND_SLOPE_SQL,
    ("agg", "regression"),
)
register(
    "dedup_exact_documents", xq.dedup_exact_documents, xq.DEDUP_EXACT_SQL, ("dedup",)
)
register(
    "dedup_ngram_jaccard",
    xq.dedup_ngram_jaccard,
    xq.DEDUP_NGRAM_JACCARD_SQL,
    ("dedup", "all-pairs", "bounded-baseline"),
)
register("derived_lineitem", cq.derived_lineitem, cq.DERIVED_LINEITEM_SQL, ("derived",))
register("drop_missing_events", cq.drop_missing_events, cq.DROP_MISSING_SQL, ("nulls",))
register("events_hourly_rollup", rq.events_hourly_rollup, rq.EVENTS_HOURLY_SQL, ("agg",))
register(
    "events_sessionize",
    rq.events_sessionize,
    rq.EVENTS_SESSIONIZE_SQL,
    ("window", "session"),
)
register(
    "explode_document_tokens",
    rq.explode_document_tokens,
    rq.EXPLODE_TOKENS_SQL,
    ("explode",),
)
register(
    "graph_degree_profile",
    gq.graph_degree_profile,
    gq.GRAPH_DEGREE_PROFILE_SQL,
    ("graph", "degree"),
)
register(
    "graph_triangle_count",
    gq.graph_triangle_count,
    gq.GRAPH_TRIANGLE_COUNT_SQL,
    ("graph", "triangles"),
)
register(
    "grouping_sets_orders",
    aq.grouping_sets_orders,
    aq.GROUPING_SETS_ORDERS_SQL,
    ("grouping-sets", "merged-variants"),
)
register(
    "incremental_semdedup_fresh",
    gq.incremental_semdedup_fresh,
    gq.INCREMENTAL_SEMDEDUP_SQL,
    ("dedup", "incremental", "similarity", "semdedup", "index-screen"),
)
register(
    "interpolate_events", cq.interpolate_events, cq.INTERPOLATE_SQL, ("nulls", "window")
)
register(
    "ivm_spend_refresh",
    rq.ivm_spend_refresh,
    rq.IVM_SPEND_REFRESH_SQL,
    ("sink", "ivm", "incremental"),
)
register("json_extract_events", rq.json_extract_events, rq.JSON_EXTRACT_SQL, ("json",))
register(
    "kmeans_suite",
    gq.kmeans_suite,
    gq.KMEANS_SUITE_SQL,
    ("similarity", "iterative", "multi-round", "merged-variants"),
)
register(
    "manifest_pruned_orders",
    rq.manifest_pruned_orders,
    rq.MANIFEST_PRUNED_SQL,
    ("layout", "manifest", "data-skipping", "agg"),
)
register(
    "map_functions_events", fq.map_functions_events, fq.MAP_FUNCTIONS_SQL, ("map",)
)
register(
    "minhash_cluster_suite",
    gq.minhash_cluster_suite,
    gq.MINHASH_CLUSTER_SUITE_SQL,
    ("dedup", "lsh", "graph", "iterative", "merged-variants"),
)
register(
    "normalize_strings_customer",
    cq.normalize_strings_customer,
    cq.NORMALIZE_STRINGS_SQL,
    ("strings",),
)
register("pivot_orders", aq.pivot_orders, aq.PIVOT_ORDERS_SQL, ("pivot",))
register("pricing_summary", rq.pricing_summary, rq.PRICING_SUMMARY_SQL, ("agg",))
register(
    "q3_shipping_priority",
    aq.q3_shipping_priority,
    aq.Q3_SHIPPING_PRIORITY_SQL,
    ("join", "agg", "topk"),
)
register(
    "region_nation_list",
    aq.region_nation_list,
    aq.REGION_NATION_LIST_SQL,
    ("agg", "string-agg"),
)
register(
    "salted_rollup_events",
    rq.salted_rollup_events,
    rq.SALTED_ROLLUP_SQL,
    ("agg", "skew", "salted"),
)
register(
    "scalar_functions_part",
    gq.scalar_functions_part,
    gq.SCALAR_FUNCTIONS_SQL,
    ("scalar",),
)
register("scd2_customer", fq.scd2_customer, fq.SCD2_CUSTOMER_SQL, ("sink", "scd2"))
register(
    "semdedup_suite",
    gq.semdedup_suite,
    gq.SEMDEDUP_SUITE_SQL,
    ("dedup", "similarity", "semdedup", "merged-variants"),
)
register(
    "sql_api_params",
    rq.sql_api_params,
    rq.SQL_API_PARAMS_SQL,
    ("sql", "params"),
)
register(
    "struct_flatten_roundtrip",
    rq.struct_flatten_roundtrip,
    rq.STRUCT_FLATTEN_SQL,
    ("struct",),
)
register(
    "text_analysis_suite",
    xq.text_analysis_suite,
    xq.TEXT_ANALYSIS_SUITE_SQL,
    ("text", "merged-variants"),
)
register("top_orders", rq.top_orders, rq.TOP_ORDERS_SQL, ("sort", "limit"))
register("upsert_orders", rq.upsert_orders, rq.UPSERT_ORDERS_SQL, ("sink", "merge"))
register("validate_orders", cq.validate_orders, cq.VALIDATE_ORDERS_SQL, ("validation",))

# --- 51-97: the r12-green fresh remainder (freshest evidence, lowest
# --- re-check urgency; rotates back into the window at r14) minus the
# --- retired corpus_decontaminate --------------------------------------
register(
    "incremental_dedup_suite",
    xq.incremental_dedup_suite,
    xq.INCREMENTAL_DEDUP_SUITE_SQL,
    ("dedup", "incremental", "merged-variants", "banded-index"),
)
register(
    "quality_calibrate_domains",
    xc.quality_calibrate_domains,
    xc.QUALITY_CALIBRATE_DOMAINS_SQL,
    ("corpus", "quality", "calibration", "bucketed-rank"),
)
register(
    "agg_cardinality_lineitem",
    rq.agg_cardinality_lineitem,
    rq.AGG_CARDINALITY_SQL,
    ("agg",),
)
register(
    "bloom_semi_lineitem",
    rq.bloom_semi_lineitem,
    rq.BLOOM_SEMI_SQL,
    ("join", "semi", "bloom", "runtime-filter"),
)
register(
    "cascade_delete_orders",
    rq.cascade_delete_orders,
    rq.CASCADE_DELETE_SQL,
    ("sink", "referential-action"),
)
register(
    "corpus_cluster_reps",
    xc.corpus_cluster_reps,
    xc.CORPUS_CLUSTER_REPS_SQL,
    ("corpus", "dedup", "iterative"),
)
register(
    "corpus_pack_sequences",
    xc.corpus_pack_sequences,
    xc.CORPUS_PACK_SQL,
    ("corpus", "packing", "window"),
)
register(
    "corpus_quality_funnel",
    xc.corpus_quality_funnel,
    xc.CORPUS_QUALITY_FUNNEL_SQL,
    ("corpus", "quality", "fused-agg"),
)
register(
    "corpus_repetition",
    xc.corpus_repetition,
    xc.CORPUS_REPETITION_SQL,
    ("corpus", "quality"),
)
register(
    "corpus_tfidf_topk",
    xc.corpus_tfidf_topk,
    xc.CORPUS_TFIDF_SQL,
    ("corpus", "text", "topk"),
)
register(
    "dedup_embedding_cosine",
    xq.dedup_embedding_cosine,
    xq.DEDUP_EMBEDDING_COSINE_SQL,
    ("dedup", "similarity", "all-pairs", "bounded-baseline"),
)
register(
    "dedup_simhash_suite",
    xq.dedup_simhash_suite,
    xq.DEDUP_SIMHASH_SUITE_SQL,
    ("dedup", "simhash", "banded", "merged-variants"),
)
register(
    "dedup_variants_lineitem",
    cq.dedup_variants_lineitem,
    cq.DEDUP_VARIANTS_SQL,
    ("dedup", "merged-variants"),
)
register(
    "embedding_retrieval_suite",
    gq.embedding_retrieval_suite,
    gq.EMBEDDING_RETRIEVAL_SUITE_SQL,
    ("similarity", "ann", "ivf", "topk", "merged-variants"),
)
register(
    "events_gapfill_hourly",
    aq.events_gapfill_hourly,
    aq.EVENTS_GAPFILL_SQL,
    ("temporal", "gapfill", "locf"),
)
register(
    "events_zscore_outliers",
    aq.events_zscore_outliers,
    aq.EVENTS_ZSCORE_SQL,
    ("agg", "anomaly"),
)
register(
    "ffill_bfill_events",
    cq.ffill_bfill_events,
    cq.FFILL_BFILL_SQL,
    ("nulls", "window", "merged-variants"),
)
register(
    "fill_strategies_events",
    cq.fill_strategies_events,
    cq.FILL_STRATEGIES_SQL,
    ("nulls", "merged-variants"),
)
register(
    "funnel_events",
    aq.funnel_events,
    aq.FUNNEL_EVENTS_SQL,
    ("agg", "funnel", "fused-agg"),
)
register(
    "group_quantiles_events",
    aq.group_quantiles_events,
    aq.GROUP_QUANTILES_SQL,
    ("agg", "quantile", "per-group"),
)
register(
    "histogram_orders",
    rq.histogram_orders,
    rq.HISTOGRAM_ORDERS_SQL,
    ("profile", "histogram"),
)
register(
    "ngram_frequencies",
    gq.ngram_frequencies,
    gq.NGRAM_FREQUENCIES_SQL,
    ("text", "topk"),
)
register(
    "order_value_deciles",
    aq.order_value_deciles,
    aq.ORDER_VALUE_DECILES_SQL,
    ("agg", "quantile", "discretizer", "exact-selection"),
)
register(
    "pii_redact_customer",
    xc.pii_redact_customer,
    xc.PII_REDACT_SQL,
    ("corpus", "pii", "strings"),
)
register("profile_lineitem", rq.profile_lineitem, rq.PROFILE_LINEITEM_SQL, ("profile",))
register(
    "quantiles_lineitem", aq.quantiles_lineitem, aq.QUANTILES_LINEITEM_SQL, ("agg",)
)
register(
    "repeat_orders_7d",
    aq.repeat_orders_7d,
    aq.REPEAT_ORDERS_7D_SQL,
    ("join", "range", "temporal"),
)
register(
    "rfm_segments",
    aq.rfm_segments,
    aq.RFM_SEGMENTS_SQL,
    ("window", "segmentation", "exact-selection"),
)
register(
    "semdedup_routed_pairs",
    gq.semdedup_routed_pairs,
    gq.SEMDEDUP_ROUTED_PAIRS_SQL,
    ("dedup", "similarity", "ivf", "semdedup", "routing"),
)
register(
    "semdedup_trained_pairs",
    gq.semdedup_trained_pairs,
    gq.SEMDEDUP_TRAINED_PAIRS_SQL,
    ("dedup", "similarity", "ivf", "semdedup", "iterative"),
)
register(
    "set_semi_anti_ops",
    aq.set_semi_anti_ops,
    aq.SET_SEMI_ANTI_OPS_SQL,
    ("set-ops", "join", "merged-variants"),
)
register(
    "sketch_bounds_events",
    aq.sketch_bounds_events,
    aq.SKETCH_BOUNDS_EVENTS_SQL,
    ("agg", "sketch", "bounds-twin"),
)
register(
    "supplier_pagerank",
    gq.supplier_pagerank,
    gq.SUPPLIER_PAGERANK_SQL,
    ("graph", "iterative", "multi-round"),
)
register(
    "tpch_join_suite",
    aq.tpch_join_suite,
    aq.TPCH_JOIN_SUITE_SQL,
    ("join", "agg", "merged-variants", "ratio", "multi-role-dim"),
)
register(
    "unpivot_lineitem",
    aq.unpivot_lineitem,
    aq.UNPIVOT_LINEITEM_SQL,
    ("reshape", "unpivot"),
)
register(
    "upsert_bloom_orders",
    rq.upsert_bloom_orders,
    rq.UPSERT_BLOOM_SQL,
    ("sink", "merge", "bloom", "invariance-twin"),
)
register(
    "window_time_orders",
    aq.window_time_orders,
    aq.WINDOW_TIME_ORDERS_SQL,
    ("window", "scalar", "time", "merged-variants"),
)
register(
    "zorder_orders",
    rq.zorder_orders,
    rq.ZORDER_ORDERS_SQL,
    ("layout", "zorder", "data-skipping"),
)
register(
    "corpus_split_suite",
    gq.corpus_split_suite,
    gq.CORPUS_SPLIT_SUITE_SQL,
    ("corpus", "split", "suite", "graph"),
)
register(
    "bpe_encode_documents",
    xc.bpe_encode_documents,
    xc.BPE_ENCODE_SQL,
    ("corpus", "tokenize", "bpe"),
)
register(
    "corpus_span_dedup",
    xc.corpus_span_dedup,
    xc.CORPUS_SPAN_DEDUP_SQL,
    ("corpus", "dedup", "span"),
)
register(
    "training_corpus_report",
    xc.training_corpus_report,
    xc.TRAINING_CORPUS_REPORT_SQL,
    ("corpus", "capstone", "lineage", "composition"),
)
register(
    "corpus_mix_suite",
    xc.corpus_mix_suite,
    xc.CORPUS_MIX_SUITE_SQL,
    ("corpus", "sampling", "merged-variants"),
)
register(
    "ann_assign_suite",
    gq.ann_assign_suite,
    gq.ANN_ASSIGN_SUITE_SQL,
    ("similarity", "ivf", "routing", "iterative", "merged-variants"),
)
register(
    "pq_suite",
    gq.pq_suite,
    gq.PQ_SUITE_SQL,
    ("similarity", "pq", "compression"),
)
register(
    "ivfpq_suite",
    gq.ivfpq_suite,
    gq.IVFPQ_SUITE_SQL,
    ("similarity", "ivf", "pq", "ann"),
)
register(
    "incremental_pq_fresh",
    gq.incremental_pq_fresh,
    gq.INCREMENTAL_PQ_SQL,
    ("dedup", "similarity", "pq", "incremental"),
)

# --- 98: rows-only specs (no oracle by design) last --------------------
register(
    "sketch_aggregates_events",
    aq.sketch_aggregates_events,
    None,
    ("agg", "sketch", "rows-only"),
)
