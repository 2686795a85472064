"""Domain cleaner recipes over Olist-shaped fixtures (the reference's
own entity flows, test_transform.py style)."""

from __future__ import annotations

from data_engineering_for_e_commerce_logistics_spark.operators import domain


def test_clean_orders(spark):
    df = spark.createDataFrame(
        [
            ("o1", "  DELIVERED ", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
            ("o1", "delivered", "2024-01-01 01:00:00", None),
            ("o2", "Pending", "not-a-date", None),
        ],
        "order_id string, order_status string, order_purchase_timestamp string,"
        " order_delivered_customer_date string",
    )
    out = domain.clean_orders(df)
    rows = {r.order_id: r for r in out.collect()}
    assert len(rows) == 2  # dedup keep-first by purchase ts
    assert rows["o1"].order_status == "delivered"
    assert rows["o1"].delivery_duration_hours == 24.0
    assert rows["o2"].order_purchase_timestamp is None  # coerced


def test_clean_products_api_shape(spark):
    df = spark.createDataFrame(
        [(1, "Widget", "  Tools ", 9.99), (1, "Widget", "Tools", 9.99), (2, "G", "toys", None)],
        "id long, title string, category string, price double",
    )
    out = domain.clean_products(df)
    assert out.count() == 2
    assert "product_id" in out.columns and "id" not in out.columns
    rows = {r.product_id: r for r in out.collect()}
    assert rows[1].category == "tools"
    assert rows[2].price == 0.0


def test_clean_order_items(spark):
    df = spark.createDataFrame(
        [
            ("o1", "p1", 10.0, 2.0),
            ("o1", "p1", 10.0, 2.0),  # composite dup
            ("o1", "p2", 0.0, 3.0),  # zero price → null ratio
            ("o2", "p1", None, None),  # nulls → 0.0
        ],
        "order_id string, product_id string, price double, freight_value double",
    )
    out = domain.clean_order_items(df)
    assert out.count() == 3
    rows = {(r.order_id, r.product_id): r for r in out.collect()}
    assert rows[("o1", "p1")].shipping_cost_ratio == 0.2
    assert rows[("o1", "p2")].shipping_cost_ratio is None
    assert rows[("o2", "p1")].price == 0.0


def test_clean_customers_rename(spark):
    df = spark.createDataFrame(
        [(7, "sao paulo", "sp")], "user_id long, customer_city string, customer_state string"
    )
    out = domain.clean_customers(df)
    r = out.first()
    assert "customer_id" in out.columns
    assert r.customer_city == "Sao Paulo" and r.customer_state == "SP"
