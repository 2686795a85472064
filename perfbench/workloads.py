"""The two workloads.  Each is one closed-loop client in this process:
set up (generate inputs, warm once), run a fixed number of passes back
to back, then check the outputs outside the timed region.

A *pass* is one sweep of the pinned queries, or one ETL cycle (a batch
pipeline run and a streaming refresh); an *operation* is one query, or
one ETL cycle.
"""

from __future__ import annotations

import contextlib
import gc
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen
from tracing import Tracer, self_times

# Input tables are drawn from a fixed data seed: the queries are
# checked cell for cell against DuckDB on exactly these bytes.  The
# workload seed varies what the client does with them (query order,
# duplicated lineitem rows, slice boundaries).
DATA_SEED = 20261016

# The query_sweep set: 5 of bench.py's 94 HEADLINE queries, chosen from
# measured per-query time (sweep_shares.py).  A run pays for each pinned
# query cold in the warm-up pass and then once per timed pass.  The run
# budget (48 runs in 3420 s, README.md) leaves about a minute for a run,
# most of it JVM start and the cold pass, so the set is about 6 s of warm
# work, a tenth of the full sweep.  Within that budget the set is chosen
# by what ROADMAP directions 2 and 3 change (README.md):
# - simhash's 64-term Column sum, whose build time direction 2 targets;
# - two of the builders that run 14 Spark jobs inside build();
# - one part each of two consolidation vehicles (direction 3).
# A name missing from the registry is a failure, so retiring one of
# these needs a benchmark change first.
PINNED_QUERIES = (
    "dedup_simhash_suite",
    "rfm_segments",
    "profile_lineitem",
    "semdedup_trained_pairs",
    "corpus_tfidf_topk",
)

# A pass's wall time on the reference machine (README.md), which sets
# how many passes a run of ``--seconds`` measures (``passes_for``).
PASS_S = {"query_sweep": 8.0, "pipeline_run": 8.0}

# pipeline_run warms up with two ETL cycles: the first is cold, and in
# the second the JIT compiler is still busy with code the first made hot,
# so a first timed cycle would measure how far it had got.
WARM_CYCLES = 2

PIPELINE_ENTITIES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
DUPLICATE_SHARE = 0.02  # lineitem rows re-landed for the dedup transform


@dataclass
class Run:
    """What one workload run measured.  ``*_s`` lists are wall-clock
    seconds; ``*_cpu_s`` and ``*_sys_s`` lists are the process tree's user
    and system CPU seconds over the same intervals."""

    setup_s: float = 0.0
    setup_cpu_s: float = 0.0
    retained_mb: float = 0.0
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_sys_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    details: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"FAIL {what}", file=sys.stderr)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> tuple[float, float]:
    """User and system CPU seconds used so far by this process and every
    process below it: the driver JVM, which in local mode also runs the
    executors, and the processes it starts (Hadoop's local file system
    runs ``chmod`` and ``readlink`` as child processes when it has no
    native library).  Children already reaped count through their
    parent's ``cutime``/``cstime``."""
    parent_of, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(name)
        parent_of[pid] = int(fields[1])
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        ticks[pid] = (utime + cutime, stime + cstime)
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent_of.items() if pp in frontier and p not in tree}
    return tuple(sum(ticks[p][i] for p in tree) * _TICK_S for i in (0, 1))


def user_cpu_s() -> float:
    """The user CPU seconds of ``tree_cpu_s``: what the benchmark's times
    are measured in (README.md)."""
    return tree_cpu_s()[0]


@contextlib.contextmanager
def timed(wall: list[float], cpu: list[float], system: list[float] | None = None):
    """Append the wall seconds and the tree's user CPU seconds of the
    block (and, given ``system``, its system CPU seconds)."""
    t0, (u0, s0) = time.perf_counter(), tree_cpu_s()
    yield
    u1, s1 = tree_cpu_s()
    cpu.append(u1 - u0)
    if system is not None:
        system.append(s1 - s0)
    wall.append(time.perf_counter() - t0)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))


def settle(spark, run: Run, quiet_ms: float = 20.0, limit_s: float = 60.0) -> None:
    """End the warm-up: wait until the JVM's JIT compilers have drained
    the work the warm-up left them, then collect the heap.

    The compilers work in background threads, behind the code that makes
    methods hot.  When the machine is busy they fall further behind, and
    a timed pass that starts right after the warm-up runs more of its
    code interpreted or half-optimised and pays for the compilations it
    overlaps.  Waiting until a whole second passes with under
    ``quiet_ms`` of compilation starts every timed pass from the same
    point, however busy the machine is.  The full collection does the
    same for the heap."""
    jvm = spark._jvm.java.lang
    compiler = jvm.management.ManagementFactory.getCompilationMXBean()
    t0, last = time.perf_counter(), compiler.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(1.0)
        now = compiler.getTotalCompilationTime()
        if now - last < quiet_ms:
            break
        last = now
    gc.collect()
    jvm.System.gc()
    run.details["settle_s"] = time.perf_counter() - t0


def passes_for(seconds: float, pass_s: float) -> int:
    """How many passes a run measures: as many as take ``seconds`` at
    ``pass_s``, a pass's wall time on the reference machine (README.md),
    and at least one.  The count depends on ``--seconds`` alone, not on
    how fast the machine is at the moment, so every run measures the same
    passes, equally far into the JVM's warm-up (its JIT compiler keeps
    working through the first dozen passes)."""
    return max(1, round(seconds / pass_s))


def _timed_loop(spark, passes: int, one_pass, tracer: Tracer, run: Run) -> None:
    """Run ``passes`` passes back to back, then read what the engine holds
    on to: the driver JVM's heap in use after a full GC (in local mode the
    executors, their block store and caches live in it).  Peak RSS is
    recorded too, for the artifact only: with the heap free to grow, it
    follows GC timing more than the work.  It is the JVM's peak over the
    run plus this process's over the timed passes, whose peak is reset
    first so that input generation does not count."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current RSS
    except OSError:
        run.details["python_peak_includes_setup"] = True
    for i in range(passes):
        tracer.run_id += 1
        with timed(run.pass_s, run.pass_cpu_s, run.pass_sys_s), tracer.span("pass"):
            one_pass(i)
    jvm = spark._jvm.java.lang
    run.details["peak_rss_mb"] = (_vm_hwm_kb(jvm.ProcessHandle.current().pid()) + _vm_hwm_kb("self")) / 1024.0
    run.retained_mb = retained_heap_mb(jvm, run.details.setdefault("retained_readings_mb", []))


def retained_heap_mb(jvm, readings: list[float], rounds: int = 8) -> float:
    """The driver JVM's heap in use after full collections, read until it
    stops falling.  This process's handles on JVM objects go first (py4j
    releases them when the Python wrappers are collected).  Spark's
    cleaner thread frees broadcasts and shuffle state only after a
    collection has dropped their owners, so one collection can leave tens
    of MB that the next one takes."""
    heap = jvm.Runtime.getRuntime()
    for _ in range(rounds):
        gc.collect()
        jvm.System.gc()
        readings.append((heap.totalMemory() - heap.freeMemory()) / 2**20)
        if len(readings) > 1 and readings[-2] - readings[-1] < 1.0:
            break
        time.sleep(0.5)
    return min(readings)


# -- query_sweep -----------------------------------------------------------
def query_sweep(spark, tracer: Tracer, work: str, seed: int, seconds: float, sf: float) -> Run:
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

    run = Run()
    t0, c0 = time.perf_counter(), user_cpu_s()
    data = os.path.join(work, "data")
    datagen.write_tables(datagen.generate_tables(sf, DATA_SEED), data)
    specs = all_specs()
    tracer.instrument()
    names = [n for n in PINNED_QUERIES if n in specs]
    for n in PINNED_QUERIES:
        if n not in specs:
            run.attempted += 1
            run.fail(f"{n}: pinned query is not registered")
    outputs = {}
    for n in names:  # warm pass; its collected rows are what gets checked
        try:
            outputs[n] = specs[n].build(spark, data).toPandas()
        except Exception:
            outputs[n] = traceback.format_exc(limit=3)
    settle(spark, run)
    run.setup_s, run.setup_cpu_s = time.perf_counter() - t0, user_cpu_s() - c0
    tracer.skip_executions()

    rng = random.Random(seed)
    per_query: dict[str, list[float]] = {n: [] for n in names}
    per_query_cpu: dict[str, list[float]] = {n: [] for n in names}
    operators: dict[str, list] = {n: [] for n in names}
    broken = {n for n, out in outputs.items() if isinstance(out, str)}

    def sweep(_i):
        # Each pass runs every query once in its own seeded order, so that
        # no one order decides a query's cost (a query that follows one
        # with much garbage pays for its collection); a query's cost is
        # the median of its passes.
        live = [n for n in names if n not in broken]
        for n in rng.sample(live, len(live)):
            run.attempted += 1
            try:
                with timed(per_query[n], per_query_cpu[n]), tracer.span("query"):
                    with tracer.span("plans.build", jobs=True):
                        df = specs[n].build(spark, data)
                    with tracer.span("session.exec", jobs=True):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                run.fail(f"{n}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            operators[n].extend(tracer.new_executions())

    _timed_loop(spark, passes_for(seconds, PASS_S["query_sweep"]), sweep, tracer, run)
    run.op_s = [statistics.median(v) for v in per_query.values() if v]
    run.op_cpu_s = [statistics.median(v) for v in per_query_cpu.values() if v]
    run.details["query_s"] = {n: statistics.median(v) for n, v in per_query.items() if v}
    run.details["query_cpu_s"] = {n: statistics.median(v) for n, v in per_query_cpu.items() if v}
    if tracer.enabled:
        run.details["top_operators"] = {n: top_operators(ops) for n, ops in operators.items()}
        run.details["operator_totals"] = operator_totals(
            [op for ops in operators.values() for op in ops]
        )

    con = checks.duck_over(data)
    for n in names:
        run.attempted += 1
        if n in broken:
            run.fail(f"{n}: warm pass raised\n{outputs[n]}")
            continue
        oracle = specs[n].oracle
        if oracle is None:
            if len(outputs[n]) == 0:
                run.fail(f"{n}: no rows (rows-only check)")
            continue
        reason = checks.frames_differ(outputs[n], con.execute(oracle).df())
        if reason:
            run.fail(f"{n}: output differs from the DuckDB oracle: {reason}")
    return run


def top_operators(executions: list[dict], k: int = 5) -> list[dict]:
    """The ``k`` operators with the most time across a query's executions."""
    rows = []
    for ex in executions:
        for op in ex["operators"]:
            secs = sum(v for m, v in op["metrics"].items() if _is_time(m))
            if secs > 0:
                rows.append({"execution": ex["execution"], "operator": op["name"],
                             "seconds": round(secs, 4),
                             "rows": op["metrics"].get("number of output rows", 0)})
    return sorted(rows, key=lambda r: -r["seconds"])[:k]


def _is_time(metric: str) -> bool:
    return metric.endswith("time") or metric in ("time in aggregation build", "duration")


def operator_totals(executions: list[dict]) -> dict[str, float]:
    rows = shuffle = 0.0
    for ex in executions:
        for op in ex["operators"]:
            rows += op["metrics"].get("number of output rows", 0)
            shuffle += op["metrics"].get("shuffle bytes written", 0)
    return {"output_rows": rows, "shuffle_write_bytes": shuffle}


# -- pipeline_run ------------------------------------------------------------
def pipeline_inputs(sf: float, seed: int) -> dict[str, pa.Table]:
    """The star schema, with a seeded share of lineitem rows landed twice
    (same key, another line number) for the dedup transform to drop."""
    tables = datagen.generate_tables(sf, DATA_SEED)
    li = tables["lineitem"]
    rng = np.random.default_rng(seed)
    picks = np.sort(rng.choice(li.num_rows, int(li.num_rows * DUPLICATE_SHARE), replace=False))
    dups = li.take(pa.array(picks))
    dups = dups.set_column(
        dups.schema.get_field_index("l_linenumber"),
        "l_linenumber",
        pa.array(dups["l_linenumber"].to_numpy() % 7 + 1, pa.int32()),
    )
    tables["lineitem"] = pa.concat_tables([li, dups])
    return {n: tables[n] for n in PIPELINE_ENTITIES}


def slice_bounds(n_rows: int, warm: int, measured: int, seed: int) -> list[int]:
    """Contiguous cut points for ``warm`` warm-up slices, then ``measured``
    timed ones, each a ``warm + measured``-th of the rows.  The cuts
    between warm-up slices are each moved by up to a quarter of a slice,
    the moves drawn from ``seed``.  The timed slices keep their size, so
    that the seed does not change how much work a timed refresh does."""
    rng = random.Random(seed)
    width = n_rows / (warm + measured)
    cuts = [int(i * width + rng.uniform(-0.25, 0.25) * width) for i in range(1, warm)]
    return [0, *cuts, *(int(i * width) for i in range(warm, warm + measured)), n_rows]


def pipeline_run(spark, tracer: Tracer, work: str, seed: int, seconds: float, sf: float) -> Run:
    """A pass is one ETL cycle: the CLI's batch E-T-V-L run into a fresh
    output directory, then one streaming refresh, which lands the next
    event-time slice of ``events`` and runs the rollup stream to
    termination against the one checkpoint and sink of the whole run."""
    from data_engineering_for_e_commerce_logistics_spark.__main__ import main
    from data_engineering_for_e_commerce_logistics_spark.streaming.ingest import start_rollup_stream

    run = Run()
    passes = passes_for(seconds, PASS_S["pipeline_run"])
    t0, c0 = time.perf_counter(), user_cpu_s()
    data = os.path.join(work, "data")
    datagen.write_tables(pipeline_inputs(sf, seed), data)
    # Sorted by event time, so the 2-hour watermark drops nothing and the
    # sink must equal the batch rollup of the landed slices.
    events = datagen.generate_tables(sf, DATA_SEED)["events"].sort_by("ts")
    bounds = slice_bounds(events.num_rows, WARM_CYCLES, passes, seed)
    slices = [events.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    stream = {k: os.path.join(work, "stream", k) for k in ("source", "sink", "checkpoint")}
    os.makedirs(stream["source"])
    tracer.instrument()
    progress: list = []

    def batch(label: str) -> int:
        with contextlib.redirect_stdout(sys.stderr):
            return main(["--sf-dir", data, "--output", os.path.join(work, "out", label)])

    def refresh(k: int) -> list:
        pq.write_table(slices[k], os.path.join(stream["source"], f"slice-{k:03d}.parquet"))
        with tracer.span("streaming.refresh"):
            query = start_rollup_stream(spark, stream["source"], stream["sink"],
                                        stream["checkpoint"], trigger_available_now=True)
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return [p for p in query.recentProgress if p is not None]

    run_ok = {}
    for k in range(WARM_CYCLES):
        try:
            run_ok[f"warm{k}"] = batch(f"warm{k}")
            refresh(k)
        except Exception as exc:
            run.attempted += 1
            run.fail(f"warm cycle {k}: {type(exc).__name__}: {str(exc)[:200]}")
    settle(spark, run)
    run.setup_s, run.setup_cpu_s = time.perf_counter() - t0, user_cpu_s() - c0
    tracer.skip_executions()
    executions: list[dict] = []
    kinds = {k: ([], []) for k in ("batch_s", "refresh_s")}  # wall, cpu

    def cycle(i):
        run.attempted += 1
        label = f"run{i}"
        try:
            with timed(run.op_s, run.op_cpu_s):
                with timed(*kinds["batch_s"]):
                    run_ok[label] = batch(label)
                with timed(*kinds["refresh_s"]):
                    progress.extend(refresh(WARM_CYCLES + i))
        except Exception as exc:
            run.fail(f"cycle {i}: {type(exc).__name__}: {str(exc)[:200]}")
        executions.extend(tracer.new_executions())

    _timed_loop(spark, passes, cycle, tracer, run)
    run.details["streaming"] = streaming_totals(progress, len(run.pass_s))
    run.details["cycle_parts"] = {k: {"wall": w, "cpu": c} for k, (w, c) in kinds.items()}
    if tracer.enabled:
        run.details["operator_totals"] = operator_totals(executions)

    con = checks.duck_over(data)
    want = checks.pipeline_expected_counts(con, PIPELINE_ENTITIES)
    for label, rc in run_ok.items():
        run.attempted += 1
        out = os.path.join(work, "out", label)
        if rc != 0:
            run.fail(f"{label}: pipeline status is not success")
            continue
        got = {n: checks.row_count(os.path.join(out, n)) for n in PIPELINE_ENTITIES}
        if got != want:
            run.fail(f"{label}: warehouse rows {got} != source rows {want}")
        elif checks.row_count(os.path.join(out, "etl_run_log")) != 1:
            run.fail(f"{label}: run log does not hold exactly one row")
    run.attempted += 1
    reason = checks.rollup_differs(stream["sink"], stream["source"])
    if reason:
        run.fail(f"rollup sink: {reason}")
    return run


def streaming_totals(progress: list, passes: int) -> dict[str, float]:
    """Per-cycle sums of the public ``StreamingQuery.recentProgress``."""
    def get(p, *path):
        for key in path:
            p = (p or {}).get(key) if isinstance(p, dict) else getattr(p, key, None)
        return p or 0

    out = {"input_rows": 0.0, "planning_ms": 0.0, "add_batch_ms": 0.0,
           "wal_commit_ms": 0.0, "state_rows": 0.0, "state_bytes": 0.0}
    for p in progress:
        out["input_rows"] += get(p, "numInputRows")
        out["planning_ms"] += get(p, "durationMs", "queryPlanning")
        out["add_batch_ms"] += get(p, "durationMs", "addBatch")
        out["wal_commit_ms"] += get(p, "durationMs", "walCommit")
        for op in get(p, "stateOperators") or []:
            out["state_rows"] = max(out["state_rows"], get(op, "numRowsTotal"))
            out["state_bytes"] = max(out["state_bytes"], get(op, "memoryUsedBytes"))
    for k in ("input_rows", "planning_ms", "add_batch_ms", "wal_commit_ms"):
        out[k] /= max(passes, 1)
    return out


WORKLOADS = {
    "query_sweep": query_sweep,
    "pipeline_run": pipeline_run,
}


# -- per-layer metrics from the spans ------------------------------------------
def layer_metrics(tracer: Tracer, run: Run) -> dict[str, float]:
    """Every per-layer metric, per pass, from the timed passes' spans."""
    spans = [s for s in tracer.spans if s["run"] >= 1]
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)
    passes = max(len(run.pass_s), 1)

    def dur(s):
        return s["end"] - s["start"]

    def ancestors(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            yield s["name"]

    def total(name, value=dur, under=None):
        return sum(value(s) for s in spans if s["name"] == name
                   and (under is None or under in ancestors(s))) / passes

    def jobs(name, under=None):
        return total(name, lambda s: s["jobs"], under)

    def tally(name, key):
        return sum(s.get(key, 0) for s in spans if s["name"] == name)

    # Jobs started while building a query count as build jobs.
    in_build = [s for s in spans if "jobs" in s
                and (s["name"] == "plans.build" or "plans.build" in ancestors(s))]
    build_ids = {s["id"] for s in in_build}
    job_spans = [s for s in spans if "jobs" in s and s["id"] not in build_ids]
    reads = [s for s in spans if s["name"] == "catalog.read_parquet_table"]
    ops = run.details.get("operator_totals", {})
    st = run.details.get("streaming", {})
    top = [s for s in spans if s["name"] in ("query", "pipeline.run", "streaming.refresh")]
    covered = sum(dur(s) for s in top)
    m = {
        "plans.build_s": total("plans.build"),
        "plans.build_jobs": sum(s["jobs"] for s in in_build) / passes,
        "session.exec_s": sum(own[s["id"]] for s in job_spans if s["jobs"]) / passes,
        "session.exec_jobs": sum(s["jobs"] for s in job_spans) / passes,
        "session.stages": sum(s["stages"] for s in job_spans) / passes,
        "session.tasks": sum(s["tasks"] for s in job_spans) / passes,
        "operators.shuffle_write_bytes": ops.get("shuffle_write_bytes", 0.0) / passes,
        "operators.output_rows": ops.get("output_rows", 0.0) / passes,
        "catalog.load_s": sum(dur(s) for s in spans if s["name"].startswith("catalog.")
                              and not by_id.get(s["parent"], {"name": ""})["name"].startswith("catalog."))
        / passes,
        "catalog.read_calls": len(reads) / passes,
        "catalog.memo_hit_ratio": tally("catalog.read_parquet_table", "memo_hit") / max(len(reads), 1),
        "functions.spread_scan_s": total("functions.spread_scan"),
        "functions.spread_fanouts": tally("functions.spread_scan", "fanout") / passes,
        "pipeline.extract_s": total("pipeline.extract"),
        "pipeline.transform_s": total("pipeline.transform"),
        "pipeline.validate_s": total("operators.validate", under="pipeline.run"),
        "pipeline.load_s": total("sinks.write_parquet", under="pipeline.loader"),
        "pipeline.recount_s": total("pipeline.loader", lambda s: own[s["id"]]),
        "pipeline.log_s": total("sinks.log_etl_run", under="pipeline.run"),
        "pipeline.extract_jobs": jobs("pipeline.extract"),
        "pipeline.transform_jobs": jobs("pipeline.transform"),
        "pipeline.validate_jobs": jobs("operators.validate", under="pipeline.run"),
        "pipeline.load_jobs": jobs("sinks.write_parquet", under="pipeline.loader"),
        "pipeline.recount_jobs": jobs("pipeline.loader"),
        "pipeline.log_jobs": jobs("sinks.log_etl_run", under="pipeline.run"),
        "sinks.upsert_s": total("sinks.upsert_parquet"),
        "sinks.upsert_jobs": jobs("sinks.upsert_parquet"),
        "sinks.rewrite_ratio": tally("sinks.upsert_parquet", "bytes_written")
        / max(tally("sinks.upsert_parquet", "live_bytes"), 1),
        "streaming.input_rows": st.get("input_rows", 0.0),
        "streaming.planning_ms": st.get("planning_ms", 0.0),
        "streaming.add_batch_ms": st.get("add_batch_ms", 0.0),
        "streaming.wal_commit_ms": st.get("wal_commit_ms", 0.0),
        "streaming.state_rows": st.get("state_rows", 0.0),
        "streaming.state_bytes": st.get("state_bytes", 0.0),
        "trace.wall_s": statistics.median(run.pass_s),
        "trace.cpu_s": statistics.median(run.pass_cpu_s),
        "trace.coverage": covered / max(sum(run.pass_s), 1e-9),
    }
    return m
