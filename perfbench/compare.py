"""Compare two sets of benchmark artifacts, metric by metric.

    python3 perfbench/compare.py --base A1.json A2.json ... --change B1.json B2.json ...

Artifacts are the JSON files run.py writes under
``.perfbench_work/artifacts/``.  Prints, per workload and metric, each
side's median and quartiles and the change of the median.  Refuses
(exit 2) to compare runs made on machines with different ``nproc``,
or a workload present on one side only.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for p in paths:
        with open(p) as f:
            a = json.load(f)
        by_workload[a["workload"]].append(a)
    return by_workload


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="compare benchmark artifacts")
    parser.add_argument("--base", nargs="+", required=True)
    parser.add_argument("--change", nargs="+", required=True)
    args = parser.parse_args(argv)
    base, change = load(args.base), load(args.change)

    cores = {a["machine"]["nproc"] for runs in (*base.values(), *change.values()) for a in runs}
    if len(cores) != 1:
        print(f"refusing to compare runs made with different nproc: {sorted(cores)}", file=sys.stderr)
        return 2
    if set(base) != set(change):
        print(f"workloads differ: {sorted(base)} vs {sorted(change)}", file=sys.stderr)
        return 2

    for workload in sorted(base):
        print(f"{workload}: {len(base[workload])} base runs, {len(change[workload])} change runs")
        for section in ("end_to_end", "wall", "per_layer"):
            names = sorted({k for a in base[workload] for k in a.get(section, {})})
            for name in names:
                b = [a[section][name] for a in base[workload] if name in a.get(section, {})]
                c = [a[section][name] for a in change[workload] if name in a.get(section, {})]
                if not b or not c:
                    continue
                bq, cq = quartiles(b), quartiles(c)
                delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
                label = f"wall.{name}" if section == "wall" else name
                print(
                    f"  {label:32s} base {bq[1]:12.4f} [{bq[0]:.4f}, {bq[2]:.4f}]"
                    f"  change {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  {delta:+.1%}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())
