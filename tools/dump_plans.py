"""Regenerate PLANS.md: formatted physical plans for a representative
slice of the contract queries, so plan-shape claims (broadcast joins,
pushdown, partial aggregation, no single-partition exchanges) are
inspectable without running anything.

Run from the repo root: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    # name -> what to look for in the plan
    ("v_order_summary", "aggregate pushed below the join; customer broadcast"),
    ("pricing_summary", "pushed filters + partial aggregation (1 shuffle)"),
    ("tpch_join_suite", "all dims broadcast in every leg; one fact-fact exchange per leg; padded union adds no exchange"),
    ("minhash_cluster_suite", "explode → hash-agg; ONE cached LSH mine serves pairs + fixpoint labels"),
    ("embedding_retrieval_suite", "broadcast query set / sign buckets / IVF codebook per leg; map-side scoring"),
    ("basket_pairs", "single scan; in-array pair expansion; TakeOrdered"),
    ("supplier_pagerank", "long-key iteration; cached edge list"),
    ("asof_events_orders", "union-and-carry as-of; one hash exchange"),
    ("quantiles_lineitem", "approx-bracketed selection; no global sort"),
    ("rfm_segments", "NO window operator: ntile via literal boundary compares"),
    ("graph_triangle_count", "shipdate filter pushed to scan; hash joins only"),
    ("semdedup_suite", "broadcast centroids; per-cell bounded pair window; ONE cached mine serves pairs + keep"),
    ("corpus_lm_quality", "zip bigrams (no shuffle) + two count joins"),
    ("bloom_semi_lineitem", "bloom word-map broadcast; probe filter BELOW the semi join's exchange"),
    ("zorder_orders", "1-row bounds broadcast; Morton encode in one codegen stage"),
    # r05 additions (incremental_exact_fresh retired r13 — its
    # bloom-pruned anti-join shape lives on as the suite's exact leg)
    ("upsert_bloom_orders", "bloom-split MERGE: certain-miss scan-stage bypass ∪ exact anti survivors"),
    ("incremental_dedup_suite", "three incremental flows off ONE cached documents scan; both near-dup screens probe PRE-BANDED persisted indexes; bloom pre-prune on the exact leg"),
    # r07 additions
    ("ann_assign_suite", "two-level routing: supers + grouped centroids both broadcast; ZERO pre-cell shuffles (the sub-n·k SemDeDup path); IVF + routed legs off one coarse ranking"),
    # r10 addition
    ("ivfpq_suite", "coarse cells + residual PQ: codebook broadcast (cell,m,code) join; ADC probe restricted to nprobe cells; no cartesian"),
    ("incremental_semdedup_fresh", "broadcast nearest-centroid batch assign; one cell-keyed rival join (batch cells only, never |index|)"),
    ("text_analysis_suite", "four per-row expression legs, zero shuffles below the union; one documents scan per leg"),
    # r12 addition
    ("quality_calibrate_domains", "per-domain exact percent-rank via bucketed counts — no one-task-per-domain window; single-draw cached boundaries"),
    # r13 addition
    ("corpus_decon_suite", "exact + fuzzy + semantic legs off ONE cached corpus scan; benchmark side broadcast in every leg"),
]


def main() -> None:
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )
    from data_engineering_for_e_commerce_logistics_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="dump-plans")
    specs = all_specs()
    out = [
        "# PLANS — physical plans of representative contract queries",
        "",
        f"Generated by `python tools/dump_plans.py` at sf_dir={sf_dir}.",
        "Each section notes the scale property the plan demonstrates;",
        "`tests/test_plans.py` asserts these shapes so they cannot",
        "silently regress.",
        "",
    ]
    for name, note in SHOWCASE:
        df = specs[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [
            f"## {name}",
            "",
            f"*{note}*",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
