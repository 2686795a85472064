"""Sources (API shapes, CSV, profiler) and sinks (upsert, audit,
projection, run log) — reference coverage test_extract.py /
test_load.py re-expressed for the Spark engine."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.sources import api, readers, sinks

# Canned payloads mirroring the reference's mocked JSON
# (tests/test_extract.py:19-29, :50-59).
PRODUCTS_FIXTURE = [
    {
        "id": 1,
        "title": "Widget",
        "price": 9.99,
        "description": "d",
        "category": "Tools",
        "rating": {"rate": 4.5, "count": 120},
    },
    {
        "id": 2,
        "title": "Gadget",
        "price": 19.99,
        "description": "d2",
        "category": "tools",
        "rating": {"rate": 3.9, "count": 80},
    },
]

CARTS_FIXTURE = [
    {
        "id": 1,
        "userId": 7,
        "date": "2020-03-02",
        "products": [
            {"productId": 1, "quantity": 4},
            {"productId": 2, "quantity": 1},
        ],
    }
]

USERS_FIXTURE = [
    {
        "id": 7,
        "email": "a@b.c",
        "username": "ab",
        "phone": "1",
        "name": {"firstname": "ada", "lastname": "l"},
        "address": {
            "city": "x",
            "street": "s",
            "zipcode": "z",
            "geolocation": {"lat": "1.5", "long": "-2.5"},
        },
    }
]


def fixture_fetcher(endpoint: str):
    return {"products": PRODUCTS_FIXTURE, "carts": CARTS_FIXTURE, "users": USERS_FIXTURE}[
        endpoint
    ]


def test_products_flatten(spark):
    raw = api.read_endpoint(spark, "products", fixture_fetcher)
    out = readers.flatten_products(raw)
    rows = {r.product_id: r for r in out.collect()}
    assert rows[1].rating_rate == 4.5 and rows[1].rating_count == 120
    assert "rating" not in out.columns


def test_carts_explode(spark):
    raw = api.read_endpoint(spark, "carts", fixture_fetcher)
    out = readers.explode_carts(raw)
    rows = out.orderBy("product_id").collect()
    assert len(rows) == 2  # one row per line item
    assert rows[0].order_id == 1 and rows[0].user_id == 7
    assert rows[0].quantity == 4 and rows[1].quantity == 1


def test_users_deep_flatten(spark):
    raw = api.read_endpoint(spark, "users", fixture_fetcher)
    out = readers.flatten_users(raw)
    r = out.first()
    assert r.first_name == "ada" and r.lat == 1.5 and r.lng == -2.5


def test_distributed_fetch(spark):
    """mapInPandas page-fan-out path returns the same typed rows.

    The fetcher must close over its data (pickled by value): executors
    cannot import the tests module to resolve a module-level function.
    """
    payload = list(PRODUCTS_FIXTURE)
    out = api.read_endpoint_distributed(
        spark,
        endpoint_for_page=lambda page: "products",
        n_pages=2,
        schema=api.PRODUCT_SCHEMA,
        fetcher=lambda endpoint, _p=payload: _p,
        parallelism=2,
    )
    assert out.count() == 4  # 2 pages × 2 products
    assert out.schema["rating"].dataType.typeName() == "struct"


def test_fetch_all_with_raw_persist(spark, tmp_path):
    out = api.fetch_all(spark, fixture_fetcher, save_raw_dir=str(tmp_path / "raw"))
    assert set(out) == {"products", "order_items", "customers"}
    assert out["order_items"].count() == 2  # carts exploded
    assert {"extracted_at", "source"} <= set(out["products"].columns)
    raw_products = spark.read.parquet(str(tmp_path / "raw" / "products"))
    assert raw_products.count() == 2
    assert raw_products.schema["rating"].dataType.typeName() == "struct"


def test_csv_roundtrip_and_multi_table(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    p = str(tmp_path / "t.csv")
    df.write.mode("overwrite").option("header", "true").csv(p)
    back = readers.load_csv(spark, p)
    assert back.count() == 2
    found = readers.load_multi_table(
        spark, {"t": p, "missing": str(tmp_path / "nope.csv")}
    )
    assert set(found) == {"t"}  # missing skipped with tolerance


def test_profile_table(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (2, 3.0)], "id int, v double"
    )
    prof = readers.profile_table(df)
    assert prof["row_count"] == 3
    assert prof["columns"]["v"]["null_count"] == 1
    assert prof["columns"]["id"]["distinct_count"] == 2
    # nullable column: NULL must NOT count as a distinct value —
    # countDistinct / count(DISTINCT) / pandas nunique() semantics
    # (ADVICE r05: the bare distinct() rewrite inflated this to 3).
    assert prof["columns"]["v"]["distinct_count"] == 2
    assert prof["columns"]["v"]["min"] == 1.0


def test_upsert_parquet_idempotent(spark, tmp_path):
    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, s string, v double"
    )
    base.write.parquet(path)
    updates = spark.createDataFrame([(2, "b2", 9.0), (3, "c", 3.0)], "k int, s string, v double")
    n = sinks.upsert_parquet(spark, updates, path, ["k"])
    assert n == 3
    got = {r.k: r.s for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # idempotency: re-applying the same updates changes nothing
    n2 = sinks.upsert_parquet(spark, updates, path, ["k"])
    assert n2 == 3
    got2 = {r.k: r.s for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_audit_and_projection(spark):
    df = spark.createDataFrame([(1, "x")], "id int, junk string")
    stamped = sinks.with_audit_columns(df)
    assert {"created_at", "updated_at"} <= set(stamped.columns)
    projected = sinks.project_to_schema(stamped, ["id", "created_at"])
    assert projected.columns == ["id", "created_at"]


def test_bucketed_table_join_no_shuffle(spark, tmp_path):
    """Both sides bucketed on the join key → the join plan has no
    exchange (the point of bucketing: co-located 100 TB fact joins)."""
    a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
    sinks.write_bucketed_table(
        a, "bucketed_a", ["k"], num_buckets=4, sort_columns=["k"],
        path=str(tmp_path / "a"),
    )
    sinks.write_bucketed_table(
        b, "bucketed_b", ["k"], num_buckets=4, sort_columns=["k"],
        path=str(tmp_path / "b"),
    )
    try:
        joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_a")
        spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_table_counts(spark, tmp_path):
    spark.range(7).write.parquet(str(tmp_path / "a"))
    spark.range(3).write.parquet(str(tmp_path / "b"))
    counts = sinks.table_counts(
        spark,
        {"a": str(tmp_path / "a"), "b": str(tmp_path / "b"), "gone": str(tmp_path / "x")},
    )
    assert counts == {"a": 7, "b": 3, "gone": -1}


def test_run_log_append(spark, tmp_path):
    path = str(tmp_path / "runlog")
    sinks.log_etl_run(
        spark,
        sinks.RunMetrics(run_id="r1", source="api", rows_loaded=10),
        path,
    )
    sinks.log_etl_run(
        spark,
        sinks.RunMetrics(run_id="r2", source="csv", status="failed"),
        path,
    )
    log = spark.read.parquet(path)
    assert log.count() == 2
    assert {r.run_id for r in log.collect()} == {"r1", "r2"}


def test_run_log_row_is_one_task_and_keeps_its_schema(spark, tmp_path):
    """Each run-log append runs one job of one task; the log reads back
    as ``RUN_LOG_SCHEMA``, every field as logged and ``started_at`` the
    run's start instant."""
    import dataclasses
    import datetime

    from pyspark.sql.types import _parse_datatype_string

    from tests.test_pipeline import run_counting_jobs

    path = str(tmp_path / "runlog")
    runs = [
        sinks.RunMetrics(
            run_id="r1", source="api", started_at=1_700_000_000.25, rows_loaded=10
        ),
        sinks.RunMetrics(
            run_id="r2",
            source="csv",
            status="failed",
            started_at=1_700_003_600.5,
            validation_passed=False,
            error_message="boom",
        ),
    ]
    for m in runs:
        _, jobs, tasks = run_counting_jobs(
            spark, lambda m=m: sinks.log_etl_run(spark, m, path), f"run-log-{m.run_id}"
        )
        assert (jobs, tasks) == (1, 1)
    log = spark.read.parquet(path)
    assert log.schema == _parse_datatype_string(sinks.RUN_LOG_SCHEMA)
    got = {r.run_id: r.asDict() for r in log.collect()}
    for m in runs:
        started = datetime.datetime.fromtimestamp(m.started_at)
        assert got[m.run_id] == {**dataclasses.asdict(m), "started_at": started}


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S12 executed for real: Spark ships Apache Derby, so the JDBC
    batch-append sink round-trips through an actual embedded database —
    upgrading S12 from 'implemented, import-guarded' to 'executed'."""
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")
    sinks.write_jdbc(df, url, "t_roundtrip", mode="append", properties=props)
    sinks.write_jdbc(df, url, "t_roundtrip", mode="append", properties=props)

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_roundtrip")
        .option("driver", props["driver"])
        .load()
    )
    assert back.count() == 200  # two appends
    assert set(back.columns) == {"id", "v"}
    assert back.agg({"v": "max"}).first()[0] == 198.0


def test_write_read_table_roundtrip_all_formats(spark, tmp_path):
    """ORC and JSON/CSV round-trips through the format-generic sink:
    self-describing formats round-trip bitwise; text formats
    round-trip given the explicit schema (timestamps normalized)."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.sources.sinks import (
        read_table,
        write_table,
    )

    src = read_parquet_table(
        spark, "/root/testdata/sf0.001/orders.parquet"
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    want = {(r.o_orderkey, r.o_custkey, r.o_totalprice, r.o_orderstatus)
            for r in src.collect()}
    schema = src.schema
    for fmt, opts in [
        ("orc", None),
        ("json", None),
        ("csv", {"header": "true"}),
    ]:
        path = str(tmp_path / f"rt_{fmt}")
        write_table(src, path, fmt=fmt, mode="overwrite", options=opts)
        back = read_table(
            spark,
            path,
            fmt=fmt,
            schema=None if fmt == "orc" else schema,
            options=opts,
        )
        got = {(r.o_orderkey, r.o_custkey, r.o_totalprice, r.o_orderstatus)
               for r in back.collect()}
        assert got == want, fmt


def test_apply_cdc_net_effect_and_idempotence(spark):
    """CDC apply: latest-op-per-key wins (U over I, trailing D deletes),
    untouched rows pass through, and re-applying the same feed is a
    no-op."""
    from data_engineering_for_e_commerce_logistics_spark.sources.sinks import (
        apply_cdc,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 1),   # update existing
            (3, None, None, "D", 1),   # delete existing
            (4, "d", 40.0, "I", 1),    # insert new
            (4, "d2", 41.0, "U", 2),   # then update it — U image wins
            (5, "e", 50.0, "I", 1),
            (5, None, None, "D", 2),   # insert then delete — gone
        ],
        "id long, name string, amount double, op string, seq long",
    )
    out = apply_cdc(target, changes, ["id"])
    got = {(r.id, r.name, r.amount) for r in out.collect()}
    want = {(1, "a", 10.0), (2, "b2", 21.0), (4, "d2", 41.0)}
    assert got == want

    # idempotence: applying the feed to its own result changes nothing
    again = apply_cdc(out, changes, ["id"])
    assert {(r.id, r.name, r.amount) for r in again.collect()} == want


def test_jsonl_corpus_roundtrip_and_corrupt_rescue(spark, tmp_path):
    """documents → JSONL shards → read back identical; a malformed
    line lands in _corrupt_record instead of failing the read or
    corrupting the schema."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )

    docs = read_parquet_table(
        spark, "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "lang", "text")
    out = str(tmp_path / "corpus_jsonl")
    readers.write_jsonl_shards(docs, out, shard_count=4)
    shard_files = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(shard_files) == 4

    # cache before corrupt-record-only predicates (Spark disallows
    # querying just _corrupt_record off the raw scan - see reader doc)
    back = readers.read_jsonl_corpus(spark, out).cache()
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b

    # poison one line: schema holds, the bad line is quarantined
    poison = str(tmp_path / "poison")
    os.makedirs(poison)
    with open(os.path.join(poison, "part-0.json"), "w") as f:
        f.write('{"doc_id": 1, "source": "s", "lang": "en", "text": "ok"}\n')
        f.write("{not json at all\n")
    got = readers.read_jsonl_corpus(spark, poison).cache()
    assert got.count() == 2
    assert got.filter("_corrupt_record IS NOT NULL").count() == 1
    assert got.filter("doc_id = 1 AND text = 'ok'").count() == 1


def test_write_sorted_parquet_global_order_no_single_partition(spark, tmp_path):
    """Range-partitioned sorted export: plan shows RangePartitioning
    (never SinglePartition), and concatenating part files in name
    order yields a globally sorted column."""
    out = str(tmp_path / "sorted_orders")
    orders = sinks.read_table(spark, "/root/testdata/sf0.001/orders.parquet")
    df = orders.select("o_orderkey", "o_totalprice")
    plan = (
        df.repartitionByRange(4, F.col("o_totalprice"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan

    sinks.write_sorted_parquet(df, out, ["o_totalprice"], num_partitions=4)
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert len(parts) == 4
    seen = []
    for p in parts:
        vals = [
            r[0]
            for r in spark.read.parquet(os.path.join(out, p))
            .select("o_totalprice")
            .collect()
        ]
        assert vals == sorted(vals)  # sorted within the file
        seen.append(vals)
    flat = [v for vs in seen for v in vs]
    assert flat == sorted(flat)  # file order concatenates to total order
    assert len(flat) == df.count()


# --- CDC generation (snapshot diff, producer side of apply_cdc) -------------


def test_generate_cdc_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id int, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", None), (5, "e", 50.0)],
        "id int, name string, v double",
    )
    feed = sinks.generate_cdc(old, new, ["id"])
    ops = {r.id: r.op for r in feed.collect()}
    # 1 unchanged → absent; 3 unchanged incl. null-safe v → absent
    assert ops == {2: "U", 4: "D", 5: "I"}


def test_generate_cdc_identical_snapshots_empty(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    assert sinks.generate_cdc(df, df, ["id"]).count() == 0


def test_generate_cdc_schema_mismatch_raises(spark):
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    b = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError):
        sinks.generate_cdc(a, b, ["id"])


def test_generate_apply_round_trip(spark):
    """The law that makes the pair useful: applying the generated feed
    to the old snapshot reproduces the new one exactly."""
    old = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)],
        "id int, name string, v double",
    )
    new = spark.createDataFrame(
        # drop ids 0-9, change 10-19, keep 20-49, add 50-54
        [(i, f"n{i}", float(i) * 2) for i in range(10, 20)]
        + [(i, f"n{i}", float(i)) for i in range(20, 50)]
        + [(i, f"x{i}", -1.0) for i in range(50, 55)],
        "id int, name string, v double",
    )
    feed = sinks.generate_cdc(old, new, ["id"])
    replayed = sinks.apply_cdc(old, feed, ["id"])
    a = sorted(map(tuple, replayed.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_load_csv_with_quarantine(spark, tmp_path):
    """Malformed CSV rows land whole in _corrupt_record; clean rows
    parse against the explicit schema and the job never aborts."""
    from pyspark.sql import types as T

    p = tmp_path / "orders.csv"
    p.write_text(
        "id,qty,price\n"
        "1,5,10.5\n"
        "2,not_a_number,20.0\n"
        "3,7,30.25\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    df = readers.load_csv_with_quarantine(spark, str(p), schema).cache()
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    good = df.filter(F.col("_corrupt_record").isNull())
    assert bad.count() == 1
    assert "not_a_number" in bad.first()["_corrupt_record"]
    assert sorted(r.id for r in good.collect()) == [1, 3]
    df.unpersist()
