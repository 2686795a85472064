"""LogiFlow benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 16 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line
is a JSON object with every end-to-end metric; with ``--trace 1`` the
layer entry points are wrapped and it carries every per-layer metric.
Either way a full artifact (machine, seed, metrics, per-query detail
and, when traced, the spans) is written under ``.perfbench_work/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SCALE_FACTOR = 0.01
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "retained_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "coverage")):
        return "ratio"
    return "count"


def start_spark(work: str):
    """The engine's own session factory on local[nproc], with every
    scratch path Spark and Python write to kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    from data_engineering_for_e_commerce_logistics_spark.session import get_spark

    spark = get_spark(
        app_name="logiflow-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM behind it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (field 8,
    steal) between two ``cpu_times`` readings."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(sum(delta[:8]), 1)


def machine(spark, data_path: str, sf: float) -> dict:
    jvm = spark._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.getProperty("java.version"),
        "data_path": data_path,
        "scale_factor": sf,
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", type=float, default=SCALE_FACTOR)
    args = parser.parse_args(argv)

    try:
        import data_engineering_for_e_commerce_logistics_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start, cpu_start = os.getloadavg(), cpu_times()

    t0, c0 = time.perf_counter(), workloads.user_cpu_s()
    spark = start_spark(work)
    session_s, session_cpu_s = time.perf_counter() - t0, workloads.user_cpu_s() - c0
    tracer = Tracer(spark, enabled=bool(args.trace))
    try:
        run = workloads.WORKLOADS[args.workload](
            spark, tracer, os.path.join(work, "w"), args.seed, args.seconds, args.scale
        )
        info = machine(spark, os.path.relpath(os.path.join(work, "w", "data"), os.getcwd()), args.scale)
        layers = workloads.layer_metrics(tracer, run) if args.trace else {}
    finally:
        tracer.restore()
        stop_spark(spark)
    info["loadavg_start"] = load_start
    info["loadavg_end"] = os.getloadavg()
    info["cpu_steal_share"] = steal_share(cpu_start, cpu_times())

    def median(values):
        return statistics.median(values) if values else float("nan")

    # Times are user CPU seconds of the process tree (README.md); the
    # wall-clock times of the same intervals are kept in the artifact.
    e2e = {
        "setup_s": session_cpu_s + run.setup_cpu_s,
        "pass_cpu_s": median(run.pass_cpu_s),
        "retained_mb": run.retained_mb,
    }
    wall = {"setup_s": session_s + run.setup_s, "session_s": session_s,
            "pass_s": median(run.pass_s), "op_p50_s": median(run.op_s)}
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "machine": info,
        "end_to_end": e2e,
        "wall": wall,
        "per_layer": layers,
        # No run has the eleven samples a tail percentile needs (one with
        # ten samples beyond it), so the slowest operation is only kept
        # here.  Operation CPU is kept here too: a query's CPU takes in the
        # JIT compiler's and the collector's work on earlier queries, and
        # its median spread by 0.16 over five seeds (README.md).
        "samples": {"passes": len(run.pass_s), "operations": len(run.op_s),
                    "op_cpu_p50_s": median(run.op_cpu_s),
                    "max_op_s": max(run.op_s, default=float("nan")), "pass_s": run.pass_s,
                    "pass_cpu_s": run.pass_cpu_s, "pass_sys_s": run.pass_sys_s, "op_cpu_s": run.op_cpu_s},
        "attempted": run.attempted,
        "failed": run.failed,
        "fail_ratio": run.failed / max(run.attempted, 1),
        "errors": run.errors,
        "details": run.details,
        "spans": tracer.spans,
    }
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    with open(os.path.join(base, "artifacts", os.path.basename(work) + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
