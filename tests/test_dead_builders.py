"""Guard against dead builders: every top-level ``(spark, sf_dir)``
builder in ``plans/`` is registered, reached by name from a registered
builder, or named below.  The list holds the unregistered runway still
to retire (ROADMAP direction 3) and the retired suite parts that tests
compare their suites against.  A retirement batch shrinks it; a new
builder must be registered or reached, never merely added."""

from __future__ import annotations

import ast
import pathlib

from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

PLANS = pathlib.Path(__file__).resolve().parent.parent / (
    "data_engineering_for_e_commerce_logistics_spark/plans"
)

RUNWAY_TO_RETIRE = {
    # quality-classifier trio
    "corpus_quality_classifier",
    "quality_calibration_bins",
    "quality_classifier_suite",
    # mixture-planning trio
    "domain_reweight_mixture",
    "token_quota_plan_sources",
    "mixture_planning_suite",
    # events five
    "ab_purchase_test",
    "cohort_retention_events",
    "event_analytics_suite",
    "event_transitions",
    "retention_decay_fit",
    # singles
    "cluster_safe_split_documents",
    "ann_balance_report",
    "embedding_diversity_report",
    "source_overlap_matrix",
    "source_divergence_matrix",
    "lang_source_independence",
}

SUITE_PART_REFERENCES = {
    # corpus_decon_suite / corpus_mix_suite parts (test_corpus)
    "corpus_decontaminate",
    "corpus_decontaminate_fuzzy",
    "corpus_decontaminate_semantic",
    "corpus_domain_mix",
    # minhash_cluster_suite's miner (test_graph)
    "dedup_minhash_lsh",
    # incremental_dedup_suite parts (test_incremental_suite)
    "incremental_exact_fresh",
    "incremental_minhash_fresh",
    "incremental_simhash_fresh",
    # ann/kmeans/semdedup suite parts (test_pq, test_kmeans,
    # test_two_level_assign)
    "ivf_assign",
    "kmeans_iterations",
    "kmeans_refine",
    "routed_assign_embeddings",
    "semdedup_keep",
}


def _unreached_builders() -> set[str]:
    defs: dict[str, ast.FunctionDef] = {}
    builders = set()
    for path in sorted(PLANS.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defs[node.name] = node
                if [a.arg for a in node.args.args[:2]] == ["spark", "sf_dir"]:
                    builders.add(node.name)
    reached: set[str] = set()
    todo = [spec.build.__name__ for spec in all_specs().values()]
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for node in ast.walk(defs[name]):
            if isinstance(node, ast.Name):
                todo.append(node.id)
            elif isinstance(node, ast.Attribute):
                todo.append(node.attr)
    return builders - reached


def test_unregistered_builders_are_listed():
    assert _unreached_builders() == RUNWAY_TO_RETIRE | SUITE_PART_REFERENCES
