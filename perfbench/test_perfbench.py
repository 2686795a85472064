"""Self-test of the benchmark at sf0.001 (two to four minutes on 4 cores).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once through run.py with tracing on; one untraced
run checks the end-to-end line; an in-process sweep with a wrong query
output and an unregistered pinned name checks that both count as
failures.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tracing import Tracer, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SEED = 7


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_work", "artifacts", f"{workload}-seed{SEED}-trace{trace}.json")
    with open(path) as f:
        return result, json.load(f)


def check_printed(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run(workload):
    result, artifact = bench(workload, trace=1)
    check_printed(result, SPEC["per_layer"])
    assert artifact["fail_ratio"] == 0
    assert set(artifact["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert artifact["machine"]["nproc"] >= 1 and artifact["seed"] == SEED
    spans = artifact["spans"]
    by_id = {s["id"]: s for s in spans}
    assert spans
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    assert min(self_times(spans).values()) >= -1e-9


def test_untraced_run_prints_end_to_end():
    result, artifact = bench("pipeline_run", trace=0)
    check_printed(result, SPEC["end_to_end"])
    assert artifact["spans"] == []


def test_wrong_output_counts_as_failure(tmp_path, monkeypatch):
    import run
    import workloads
    from data_engineering_for_e_commerce_logistics_spark.plans import registry

    good = registry.all_specs()["top_orders"]
    wrong = dataclasses.replace(good, build=lambda s, d: good.build(s, d).limit(1))
    monkeypatch.setitem(registry._REGISTRY, "top_orders", wrong)
    monkeypatch.setattr(workloads, "PINNED_QUERIES", ("top_orders", "pricing_summary", "retired_query"))
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(key, raising=False)  # restored after the test
    spark = run.start_spark(str(tmp_path / "session"))
    try:
        r = workloads.query_sweep(spark, Tracer(spark, False), str(tmp_path / "w"), SEED, 0, 0.001)
    finally:
        run.stop_spark(spark)
    assert r.failed == 2, r.errors
    assert any("top_orders" in e and "oracle" in e for e in r.errors)
    assert any("retired_query" in e for e in r.errors)
