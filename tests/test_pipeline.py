"""End-to-end ETL pipeline orchestration (O1-O4): extract → transform
→ validate (abort gate) → dependency-ordered load, with run logging."""

from __future__ import annotations

import pytest

from data_engineering_for_e_commerce_logistics_spark.operators import cleaners
from data_engineering_for_e_commerce_logistics_spark.operators.validators import (
    DataValidator,
    Severity,
)
from data_engineering_for_e_commerce_logistics_spark.plans.pipeline import ETLPipeline
from data_engineering_for_e_commerce_logistics_spark.sources import sinks


def _extractors(spark):
    orders = spark.createDataFrame(
        [("o1", "c1", "  OK "), ("o1", "c1", "ok"), ("o2", "c2", "BAD")],
        "order_id string, customer_id string, status string",
    )
    customers = spark.createDataFrame([("c1",), ("c2",)], "customer_id string")
    return {
        "customers": lambda s, df=customers: df,
        "orders": lambda s, df=orders: df,
    }


def test_pipeline_success_and_order(spark, tmp_path):
    loads: list[str] = []

    def loader(name, df):
        loads.append(name)
        return df.count()

    p = ETLPipeline(
        spark,
        extractors=_extractors(spark),
        transforms={
            "orders": [
                lambda df: cleaners.remove_duplicates(
                    df, ["order_id"], "first", ["status"]
                ),
                lambda df: cleaners.normalize_strings(df, ["status"], case="lower"),
            ]
        },
        validators={"orders": DataValidator().add_unique_check("order_id")},
        load_order=["customers", "orders"],
        loader=loader,
        run_log_path=str(tmp_path / "runlog"),
    )
    result = p.run()
    assert result.status == "success"
    assert loads == ["customers", "orders"]  # dependency order respected
    assert result.rows == {"customers": 2, "orders": 2}
    assert result.reports["orders"].passed
    assert set(result.stage_seconds) == {"extract", "transform", "validate", "load"}
    assert all(v >= 0 for v in result.stage_seconds.values())
    log = spark.read.parquet(str(tmp_path / "runlog"))
    assert log.count() == 1 and log.first().status == "success"


def test_pipeline_critical_abort(spark, tmp_path):
    p = ETLPipeline(
        spark,
        extractors=_extractors(spark),
        validators={
            "orders": DataValidator().add_unique_check(
                "order_id", severity=Severity.CRITICAL
            )
        },
        run_log_path=str(tmp_path / "runlog"),
    )
    with pytest.raises(ValueError, match="critical"):
        p.run()
    log = spark.read.parquet(str(tmp_path / "runlog"))
    assert log.first().status == "failed"


def run_counting_jobs(spark, action, group: str):
    """Run ``action()`` under a job group; return its result, the
    number of Spark jobs it started and the number of tasks their
    stages ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    )
    return result, len(jobs), tasks


def test_cli_loader_runs_no_recount(spark, sf_dir, tmp_path):
    """The CLI's loader takes the row count its write observed: the
    counts match the written tables, and the run starts a job fewer
    per table than a loader that recounts each frame after writing."""
    from data_engineering_for_e_commerce_logistics_spark.__main__ import build_pipeline

    out = str(tmp_path / "observed")
    result, jobs, _ = run_counting_jobs(
        spark, build_pipeline(spark, sf_dir, out).run, "cli-observed-loader"
    )
    assert result.status == "success"
    written = {n: spark.read.parquet(f"{out}/{n}").count() for n in result.rows}
    assert result.rows == written and len(written) == 7

    recount_out = str(tmp_path / "recount")
    recounting = build_pipeline(spark, sf_dir, recount_out)
    recounting.loader = lambda name, df: (
        sinks.write_parquet(df, f"{recount_out}/{name}", mode="overwrite"),
        df.count(),
    )[1]
    recount_result, recount_jobs, _ = run_counting_jobs(
        spark, recounting.run, "cli-recounting-loader"
    )
    assert recount_result.rows == result.rows
    assert recount_jobs - jobs >= 7, (jobs, recount_jobs)
