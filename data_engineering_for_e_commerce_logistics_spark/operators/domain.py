"""Domain cleaners — the reference's per-entity transform recipes
composed from the generic operator library.

Reference: src/transform/cleaners.py — OrdersCleaner (:266-333),
ProductsCleaner (:341-377), OrderItemsCleaner (:385-432).  Each is a
fixed composition: dedup on the entity key → timestamp coercion →
string normalization → null fills → derived metrics.  The Spark
versions are pure plan builders (no action), so a pipeline stacks
them lazily and Catalyst optimizes across stage boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import cleaners


def clean_orders(df: DataFrame, order_col: str = "order_purchase_timestamp") -> DataFrame:
    """OrdersCleaner.clean (ref :266-333): dedup by order_id keep-first,
    coerce every *timestamp*/*date* column, normalize status casing,
    derive delivery_duration_hours when both endpoints exist."""
    out = cleaners.remove_duplicates(
        df,
        subset=["order_id"],
        keep="first",
        order_by=[order_col] if order_col in df.columns else None,
    )
    out = cleaners.coerce_timestamps(out)
    if "order_status" in out.columns:
        out = cleaners.normalize_strings(out, ["order_status"], case="lower")
    if {
        "order_delivered_customer_date",
        "order_purchase_timestamp",
    } <= set(out.columns):
        out = out.withColumn(
            "delivery_duration_hours",
            cleaners.ts_diff_hours(
                "order_delivered_customer_date", "order_purchase_timestamp"
            ),
        )
    return out


def clean_products(df: DataFrame) -> DataFrame:
    """ProductsCleaner.clean (ref :341-377): id-or-product_id dedup,
    lowercase category, price nulls → 0.0."""
    key = "id" if "id" in df.columns else "product_id"
    out = cleaners.remove_duplicates(df, subset=[key])
    if key == "id":
        out = out.withColumnRenamed("id", "product_id")  # ref db_loader.py:401-404
    if "category" in out.columns:
        out = cleaners.normalize_strings(out, ["category"], case="lower")
    if "price" in out.columns:
        out = cleaners.fill_constant(out, 0.0, ["price"])
    return out


def clean_order_items(df: DataFrame) -> DataFrame:
    """OrderItemsCleaner.clean (ref :385-432): composite-key dedup,
    price/freight nulls → 0.0, shipping_cost_ratio with zero-price
    guard (ref :420-425)."""
    out = cleaners.remove_duplicates(df, subset=["order_id", "product_id"])
    for c in ("price", "freight_value"):
        if c in out.columns:
            out = cleaners.fill_constant(out, 0.0, [c])
    if {"price", "freight_value"} <= set(out.columns):
        out = out.withColumn(
            "shipping_cost_ratio", cleaners.safe_ratio("freight_value", "price", 4)
        )
    return out


def clean_customers(df: DataFrame) -> DataFrame:
    """Customers path (ref main.py:197-199): user_id → customer_id
    rename + string normalization on location fields."""
    out = df
    if "user_id" in out.columns and "customer_id" not in out.columns:
        out = out.withColumnRenamed("user_id", "customer_id")
    for c in ("customer_city", "city"):
        if c in out.columns:
            out = cleaners.normalize_strings(out, [c], case="title")
    for c in ("customer_state", "state"):
        if c in out.columns:
            out = cleaners.normalize_strings(out, [c], case="upper")
    return out
