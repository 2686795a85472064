"""Guard against dead code in ``plans/``.

Every top-level ``(spark, sf_dir)`` builder is registered, reached by
name from a registered builder, or named below.  The list holds the
unregistered runway still to retire (ROADMAP direction 3) and the
retired suite parts that tests compare their suites against.  A
retirement batch shrinks it; a new builder must be registered or
reached, never merely added.

Every top-level ``*_SQL`` constant is read somewhere: an oracle text
nothing reads is dead weight that still costs its build at import."""

from __future__ import annotations

import ast
import pathlib

from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_engineering_for_e_commerce_logistics_spark"
PLANS = PACKAGE / "plans"
# Everything that may read a plan module's constant.
READERS = (PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
           ROOT / "dags", ROOT / "bench.py", ROOT / "__spark_entry__.py")

RUNWAY_TO_RETIRE = {
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


def _sql_constants() -> set[str]:
    return {
        target.id
        for path in PLANS.glob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.Assign)
        for target in node.targets
        if isinstance(target, ast.Name) and target.id.endswith("_SQL")
    }


def _names_read() -> set[str]:
    read: set[str] = set()
    for reader in READERS:
        paths = reader.rglob("*.py") if reader.is_dir() else [reader]
        for path in paths:
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    read.add(node.id)
                elif isinstance(node, ast.Attribute):
                    read.add(node.attr)
    return read


def test_every_sql_constant_is_read():
    assert sorted(_sql_constants() - _names_read()) == []
