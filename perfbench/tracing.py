"""Spans and counters recorded around the engine's layer entry points.

A traced run wraps public functions of the package from the outside
(``Tracer.instrument``); nothing under the package is edited.  Each
span keeps (id, name, parent, run, start, end) in memory; ``jobs=True``
spans also run their Spark jobs under a job group of their own and
read back job, stage and task counts from ``sc.statusTracker()``.
Per-operator numbers come from the SQL status store
(``sharedState().statusStore()``), which Spark keeps even with the UI
disabled.
"""

from __future__ import annotations

import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "data_engineering_for_e_commerce_logistics_spark"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = 0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._undo: list[tuple[object, str, object]] = []
        self._seen_scans: dict[tuple[int, str], object] = {}
        self._last_execution = -1

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        saved = None
        if jobs:
            saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
            sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            if jobs:
                rec.update(job_counts(sc, f"perfbench-{rec['id']}"))
                for k, v in zip(_GROUP_PROPS, saved):
                    sc.setLocalProperty(k, v)
            self._stack.pop()

    def wrap(self, name: str, fn, jobs: bool = False, after=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out, *args, **kwargs)
                return out

        return traced

    # -- patching --------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _replace_everywhere(self, original, replacement) -> None:
        """Rebind ``original`` in every loaded package module that holds it
        (``from x import f`` copies the binding into the importer)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, attr, replacement)

    def instrument(self) -> None:
        """Wrap each layer's public entry points (after every package
        module that binds them has been imported)."""
        if not self.enabled:
            return
        import importlib

        for mod in ("__main__", "plans.pipeline", "streaming.ingest", "sources.sinks"):
            importlib.import_module(f"{PKG}.{mod}")
        from data_engineering_for_e_commerce_logistics_spark import catalog
        from data_engineering_for_e_commerce_logistics_spark.functions import spread
        from data_engineering_for_e_commerce_logistics_spark.operators import validators
        from data_engineering_for_e_commerce_logistics_spark.plans import pipeline
        from data_engineering_for_e_commerce_logistics_spark.sources import sinks

        def after_read(rec, df, spark, path):
            key = (id(spark), path)
            rec["memo_hit"] = self._seen_scans.get(key) is df
            self._seen_scans[key] = df

        def after_spread(rec, out, df, *a, **k):
            rec["fanout"] = out is not df

        def around_upsert(fn):
            def upsert(spark, updates, path, *a, **k):
                before = parquet_files(path)
                with self.span("sinks.upsert_parquet", jobs=True) as rec:
                    out = fn(spark, updates, path, *a, **k)
                after = parquet_files(path)
                rec["bytes_written"] = sum(size for f, size in after.items() if f not in before)
                rec["live_bytes"] = sum(after.values())
                return out

            return upsert

        wrapped = [
            (catalog.read_parquet_table, self.wrap("catalog.read_parquet_table", catalog.read_parquet_table, after=after_read)),
            (catalog.load_tables, self.wrap("catalog.load_tables", catalog.load_tables)),
            (spread.spread_scan, self.wrap("functions.spread_scan", spread.spread_scan, after=after_spread)),
            (sinks.write_parquet, self.wrap("sinks.write_parquet", sinks.write_parquet, jobs=True)),
            (sinks.log_etl_run, self.wrap("sinks.log_etl_run", sinks.log_etl_run, jobs=True)),
            (sinks.upsert_parquet, around_upsert(sinks.upsert_parquet)),
        ]
        for original, replacement in wrapped:
            self._replace_everywhere(original, replacement)
        cls = validators.DataValidator
        self._set(cls, "validate", self.wrap("operators.validate", cls.validate, jobs=True))
        self._set(pipeline.ETLPipeline, "run", self._pipeline_run(pipeline.ETLPipeline.run))

    def _pipeline_run(self, run):
        """ETLPipeline.run with each stage callable of the instance wrapped."""
        tracer = self

        def traced_run(pipe, *args, **kwargs):
            pipe.extractors = {
                n: tracer.wrap("pipeline.extract", fn, jobs=True)
                for n, fn in pipe.extractors.items()
            }
            pipe.transforms = {
                n: [tracer.wrap("pipeline.transform", s, jobs=True) for s in steps]
                for n, steps in pipe.transforms.items()
            }
            pipe.loader = tracer.wrap("pipeline.loader", pipe.loader, jobs=True)
            with tracer.span("pipeline.run"):
                return run(pipe, *args, **kwargs)

        return traced_run

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- SQL status store -------------------------------------------------
    def new_executions(self) -> list[dict]:
        """Per-operator metrics of every SQL execution since the last call."""
        if not self.enabled:
            return []
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        eid = self._last_execution + 1
        while store.execution(eid).isDefined():
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            out.append({"execution": eid, "operators": parse_plan_dot(dot)})
            eid += 1
        self._last_execution = eid - 1
        return out

    def skip_executions(self) -> None:
        """Forget executions so far (set-up work is not attributed)."""
        if self.enabled:
            store = self.spark._jsparkSession.sharedState().statusStore()
            while store.execution(self._last_execution + 1).isDefined():
                self._last_execution += 1


def job_counts(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def parquet_files(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
# A whole-stage-codegen cluster: its label holds the fused stage's duration.
_CLUSTER = re.compile(r'id="cluster(\d+)";\s*label="(WholeStageCodegen \(\d+\))\\n \\n(.*?)";')
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_value(text: str) -> float | None:
    """'1,234' -> 1234; '5.4 KiB' -> bytes; '23 ms' -> seconds."""
    parts = text.strip().split(" ")
    try:
        number = float(parts[0].replace(",", ""))
    except ValueError:
        return None
    if len(parts) == 1:
        return number
    unit = _UNITS.get(parts[1])
    return None if unit is None else number * unit


def parse_plan_dot(dot: str) -> list[dict]:
    """Operators with their metrics from ``SparkPlanGraph.makeDotFile``.

    A label reads ``<b>Name</b><br><br>metric: value<br>...``; metrics
    aggregated over tasks print their total on the following line."""
    ops = []
    for node_id, label in _NODE.findall(dot):
        lines = label.split("<br>")
        name = next((ln[3:-4] for ln in lines if ln.startswith("<b>")), "?")
        metrics: dict[str, float] = {}
        pending = None
        for ln in lines:
            if pending is not None:
                value = parse_value(ln.split(" (")[0])
                if value is not None:
                    metrics[pending] = value
                pending = None
            elif " total (min, med, max" in ln:
                pending = ln.split(" total (")[0]
            elif ": " in ln:
                key, _, raw = ln.partition(": ")
                value = parse_value(raw)
                if value is not None:
                    metrics[key] = value
        ops.append({"node": int(node_id), "name": name, "metrics": metrics})
    for node_id, name, text in _CLUSTER.findall(dot):
        key, _, raw = text.partition(": ")  # "duration: [total (...)\n]21 ms (...)"
        value = parse_value(raw.split("\\n")[-1].split(" (")[0])
        metrics = {} if value is None else {key: value}
        ops.append({"node": int(node_id), "name": name, "metrics": metrics})
    return ops


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
