"""Per-query time of the full bench.HEADLINE sweep, and the share of it
that query_sweep's pinned set covers.

    python3 perfbench/sweep_shares.py [--scale 0.01]

Run from the repository root (about four minutes on 4 cores).  On the
benchmark's generated inputs, each query runs once to warm up and once
timed (``build()`` plus a noop-sink write).  It prints one line per
query, costliest first, with its share of the sweep and whether it is
pinned, then the pinned set's total share.  Re-run it before changing
``workloads.PINNED_QUERIES``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--scale", type=float, default=run.SCALE_FACTOR)
    args = parser.parse_args()

    import bench
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

    work = os.path.join(os.getcwd(), ".perfbench_work", "sweep_shares")
    shutil.rmtree(work, ignore_errors=True)
    spark = run.start_spark(work)
    try:
        data = os.path.join(work, "data")
        datagen.write_tables(datagen.generate_tables(args.scale, workloads.DATA_SEED), data)
        specs = all_specs()
        secs = {}
        for name in bench.HEADLINE:
            specs[name].build(spark, data).toPandas()
            t0 = time.perf_counter()
            specs[name].build(spark, data).write.format("noop").mode("overwrite").save()
            secs[name] = time.perf_counter() - t0
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    total = sum(secs.values())
    for name, s in sorted(secs.items(), key=lambda kv: -kv[1]):
        mark = "pinned" if name in workloads.PINNED_QUERIES else ""
        print(f"{name:36s} {s:7.3f} s {s / total:6.1%}  {mark}")
    pinned = sum(secs.get(n, 0.0) for n in workloads.PINNED_QUERIES)
    print(f"sweep {total:.1f} s over {len(secs)} queries; pinned set {pinned:.1f} s = {pinned / total:.1%}")


if __name__ == "__main__":
    main()
