"""Solo re-timings for bench drift forensics (VERDICT r05 ask #7).

The in-session bench times ~100 queries in one long-lived JVM; r04→r05
showed a uniform ~1.3-1.5× drift on unrelated cheap queries that solo
re-timings attributed to sandbox load, but the evidence lived only in
a SCALE.md note.  This tool makes it mechanical: given query names, it
runs each in its own cadence — fresh cache, forced GC, one warmup,
min-of-3 — in an otherwise idle session and writes a committed JSON
(`BENCH_SOLO_r{N}.json`) the next judge can diff against the
in-session artifact without re-deriving anything.

Usage: python tools/bench_solo.py name [name ...]   (solo — nothing
else on the box); writes BENCH_SOLO_r{next}.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not names:
        sys.exit("usage: python tools/bench_solo.py query [query ...]")

    import bench
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )
    from data_engineering_for_e_commerce_logistics_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-solo")
    specs = all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"unknown specs: {unknown}")

    out: dict[str, dict] = {}
    for name in names:
        build = specs[name].build
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.time()
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        out[name] = {
            "min_of_3_sec": round(min(samples), 3),
            "samples": [round(s, 3) for s in samples],
        }
        print(name, out[name])

    try:
        load_avg = round(os.getloadavg()[0], 1)
    except OSError:
        load_avg = None
    path = os.path.join(_REPO, f"BENCH_SOLO_r{bench._next_round()}.json")
    # MERGE into any same-round artifact: later solo sessions add rows
    # (each stamped with its own load) instead of clobbering earlier
    # forensics from the same round.
    artifact = {"sf_dir": sf_dir, "load_avg_1m": load_avg, "queries": {}}
    if os.path.exists(path):
        try:
            with open(path) as f:
                artifact = json.load(f)
        except (OSError, ValueError):
            pass
    for name, row in out.items():
        # per-row provenance (ADVICE r08): a merge session may run
        # under a different SPARK_GRAFT_SF_DIR than the artifact's
        # top-level sf_dir — stamp each row so mixed-scale merges are
        # visible instead of silent
        artifact.setdefault("queries", {})[name] = {
            **row, "load_avg_1m": load_avg, "sf_dir": sf_dir
        }
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
