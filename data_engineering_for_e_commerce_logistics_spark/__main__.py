"""CLI pipeline driver — the engine's `python -m src.main` equivalent
(ref src/main.py:270-318).

    python -m data_engineering_for_e_commerce_logistics_spark \
        --sf-dir /root/testdata/sf0.001 --output /tmp/warehouse

Runs the full E→T→V→L pipeline over the star-schema tables: extract
(parquet scans), transform (dedup + derived metrics), validate (fused
rule pass with the critical abort gate), load (partitioned parquet
warehouse + analytic views + run log).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="LogiFlow-on-Spark ETL pipeline")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--output", default="/tmp/logiflow_warehouse")
    parser.add_argument("--no-validate", action="store_true")
    args = parser.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name="logiflow-etl")
    pipeline = build_pipeline(spark, args.sf_dir, args.output)
    result = pipeline.run(validate=not args.no_validate)
    print(
        f"run {result.run_id}: {result.status} in {result.duration_seconds}s, "
        f"rows={result.rows}, stage_seconds={result.stage_seconds}"
    )
    return 0 if result.status == "success" else 1


def build_pipeline(spark, sf_dir: str, output: str):
    """The CLI's pipeline over the star-schema tables in ``sf_dir``,
    loading into ``output``.  The loader reports the row count the
    write observed, so no table is executed twice."""
    from .catalog import load_tables
    from .operators import cleaners
    from .operators.validators import DataValidator, Severity
    from .plans.pipeline import ETLPipeline
    from .sources import sinks

    def extractor(name):
        return lambda s: load_tables(s, sf_dir, (name,))[name]

    entities = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

    return ETLPipeline(
        spark,
        extractors={name: extractor(name) for name in entities},
        transforms={
            "lineitem": [
                lambda df: cleaners.remove_duplicates(
                    df,
                    ["l_orderkey", "l_partkey"],
                    "first",
                    ["l_linenumber", "l_suppkey"],
                ),
                lambda df: cleaners.with_derived(
                    df,
                    {
                        "revenue": F.col("l_extendedprice")
                        * (1 - F.col("l_discount")),
                    },
                ),
            ],
        },
        validators={
            "orders": (
                DataValidator("orders")
                .add_null_check("o_orderkey", severity=Severity.CRITICAL)
                .add_unique_check("o_orderkey", severity=Severity.CRITICAL)
                .add_allowed_values("o_orderstatus", ["P", "O", "F"])
            ),
            "lineitem": (
                DataValidator("lineitem")
                .add_null_check("l_orderkey", severity=Severity.CRITICAL)
                .add_range_check("l_quantity", min_value=0.0)
            ),
        },
        load_order=entities,  # dimension-before-fact order (O4)
        loader=lambda name, df: sinks.write_parquet(
            df, f"{output}/{name}", mode="overwrite"
        ),
        run_log_path=f"{output}/etl_run_log",
    )


if __name__ == "__main__":
    sys.exit(main())
