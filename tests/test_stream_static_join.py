"""Stream-static join: the streaming enrichment pattern (event stream
⨝ broadcast dimension) — each micro-batch joins against the static
frame without restarting the query."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.streaming import ingest

SF = "/root/testdata/sf0.001"


def test_stream_static_enrichment(spark, tmp_path):
    src = str(tmp_path / "events_src")
    read_parquet_table(spark, f"{SF}/events.parquet").write.parquet(src)
    customers = read_parquet_table(spark, f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    stream = ingest.read_event_stream(spark, src)
    enriched = stream.join(F.broadcast(customers), "user_id", "left")
    sink = str(tmp_path / "enriched")
    q = (
        enriched.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    n_events = spark.read.parquet(src).count()
    assert out.count() == n_events  # left join preserves every event
    # users present in the customer dim got their segment attached
    matched = out.filter(F.col("c_mktsegment").isNotNull()).count()
    overlap = (
        spark.read.parquet(src)
        .join(customers, "user_id", "left_semi")
        .count()
    )
    assert matched == overlap


def test_stream_bloom_prune_semi_join(spark, tmp_path):
    """The bloom operators compose with Structured Streaming unchanged:
    the 1-row word map is a static broadcast (stateless stream-static
    join), the membership test is per-row expression work, and the
    finishing exact semi join against the static key set keeps the
    result identical to the batch path — verified by batch equivalence."""
    from data_engineering_for_e_commerce_logistics_spark.operators import bloom

    src = str(tmp_path / "events_src")
    read_parquet_table(spark, f"{SF}/events.parquet").write.parquet(src)
    keys = (
        read_parquet_table(spark, f"{SF}/customer.parquet")
        .where(F.col("c_custkey") % 5 == 0)
        .select(F.col("c_custkey").alias("user_id"))
    )

    stream = ingest.read_event_stream(spark, src)
    pruned = bloom.bloom_semi_join(
        stream, keys, "user_id", num_bits=1 << 12, num_hashes=3
    )
    sink = str(tmp_path / "bloom_out")
    q = (
        pruned.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    want = sorted(
        r.event_id
        for r in spark.read.parquet(src)
        .join(keys, "user_id", "left_semi")
        .collect()
    )
    assert got == want and len(want) > 0
