"""ETL pipeline orchestrator — SURVEY §2.10 O1-O4.

Reference: ETLPipeline.run (src/main.py:66-142): E→T→V→L with timing,
result dict, and the critical-validation abort gate (:112-117), plus
source routing (:144-169), entity routing (:171-214), and
dependency-ordered loads (:230-255).

Spark-first differences (SURVEY §3.1): stages compose lazily — extract
returns unexecuted scans, transform stacks plans on top, and the only
eager points are the validation gate (one fused agg job per entity)
and the sink writes.  The dict[str, DataFrame] hand-off stays, but
frames are plans, not materialized tables.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Mapping
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.validators import DataValidator, ValidationReport
from ..sources import sinks

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class PipelineResult:
    run_id: str
    status: str
    duration_seconds: float
    rows: dict[str, int] = field(default_factory=dict)
    reports: dict[str, ValidationReport] = field(default_factory=dict)
    error: str | None = None
    # wall seconds per stage (extract, transform, validate, load); a
    # stage the run did not reach is absent
    stage_seconds: dict[str, float] = field(default_factory=dict)


class ETLPipeline:
    """Composable E→T→V→L pipeline over named entities.

    extractors: entity -> (spark) -> DataFrame          (O2 routing)
    transforms: entity -> [DataFrame -> DataFrame]      (O3 routing)
    validators: entity -> DataValidator                 (V gate)
    load_order: entities in FK-dependency order         (O4)
    loader:     (entity, DataFrame) -> rows written
    """

    def __init__(
        self,
        spark: SparkSession,
        extractors: Mapping[str, Callable[[SparkSession], DataFrame]],
        transforms: Mapping[str, list[Transform]] | None = None,
        validators: Mapping[str, DataValidator] | None = None,
        load_order: list[str] | None = None,
        loader: Callable[[str, DataFrame], int] | None = None,
        run_log_path: str | None = None,
    ):
        self.spark = spark
        self.extractors = dict(extractors)
        self.transforms = dict(transforms or {})
        self.validators = dict(validators or {})
        self.load_order = load_order or list(self.extractors)
        self.loader = loader or (lambda name, df: df.count())
        self.run_log_path = run_log_path

    def run(self, validate: bool = True) -> PipelineResult:
        run_id = uuid.uuid4().hex[:12]
        t0 = time.time()
        result = PipelineResult(run_id=run_id, status="success", duration_seconds=0.0)

        @contextmanager
        def stage(name: str):
            start = time.perf_counter()
            try:
                yield
            finally:
                result.stage_seconds[name] = round(time.perf_counter() - start, 3)

        try:
            with stage("extract"):
                frames = {name: fn(self.spark) for name, fn in self.extractors.items()}
            with stage("transform"):
                for name, steps in self.transforms.items():
                    if name in frames:
                        for step in steps:
                            frames[name] = step(frames[name])
            with stage("validate"):
                if validate:
                    for name, validator in self.validators.items():
                        if name in frames:
                            report = validator.validate(frames[name])
                            result.reports[name] = report
                            # abort gate (ref main.py:112-117)
                            report.raise_on_critical()
            with stage("load"):
                for name in self.load_order:
                    if name in frames:
                        result.rows[name] = self.loader(name, frames[name])
        except Exception as exc:
            result.status = "failed"
            result.error = str(exc)
            raise
        finally:
            result.duration_seconds = round(time.time() - t0, 3)
            if self.run_log_path:
                sinks.log_etl_run(
                    self.spark,
                    sinks.RunMetrics(
                        run_id=run_id,
                        source=",".join(sorted(self.extractors)),
                        status=result.status,
                        started_at=t0,
                        duration_seconds=result.duration_seconds,
                        rows_loaded=sum(result.rows.values()),
                        validation_passed=all(
                            r.passed for r in result.reports.values()
                        ),
                        error_message=result.error,
                    ),
                    self.run_log_path,
                )
        return result
