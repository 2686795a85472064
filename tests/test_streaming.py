"""Structured Streaming ingestion: file source → watermark → tumbling
windows → foreachBatch upsert, with batch-equivalence against the
oracle-checked batch rollup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.streaming import ingest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage the events table as a parquet directory (the stream source)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(path)
    return path


def test_stream_rollup_matches_batch(spark, events_dir, tmp_path):
    sink = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    q = ingest.start_rollup_stream(spark, events_dir, sink, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch = (
        read_parquet_table(spark, f"{SF_DIR}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # every (window, type) group agrees on count with the batch twin
    j = got.select("window_start", "event_type", "n_events").join(
        batch, ["window_start", "event_type"], "full_outer"
    )
    assert got.count() == batch.count()
    mismatch = j.filter(
        got["n_events"].isNull()
        | batch["n_events"].isNull()
        | (got["n_events"] != batch["n_events"])
    )
    assert mismatch.count() == 0


def test_stream_incremental_and_watermark_drop(spark, events_dir, tmp_path):
    """Second availableNow run picks up new files incrementally: a
    fresh in-horizon event creates its window group, while an event
    older than the advanced watermark is dropped (late-data bound)."""
    sink = str(tmp_path / "rollup2")
    ckpt = str(tmp_path / "ckpt2")
    q = ingest.start_rollup_stream(spark, events_dir, sink, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()

    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).first()[0]
    fresh_ts = (max_ts + __import__("datetime").timedelta(hours=3)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    new_events = spark.createDataFrame(
        [
            (999999, fresh_ts, 1, "click", 1.0, "{}"),
            # far older than watermark (stream has advanced weeks past) → dropped
            (999998, "2024-01-01 00:30:00", 1, "click", 1.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    new_events.write.mode("append").parquet(events_dir)

    q2 = ingest.start_rollup_stream(spark, events_dir, sink, ckpt)
    q2.awaitTermination(120)
    out = spark.read.parquet(sink)
    # exactly one new group (the fresh event's window); the too-late
    # event neither adds a group nor bumps an existing count
    assert out.count() == n1 + 1
    fresh_window = out.filter(F.col("window_start") > max_ts).first()
    assert fresh_window is not None and fresh_window.n_events == 1
    jan1 = out.filter(
        (F.col("event_type") == "click")
        & (F.col("window_start") == F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    ).first()
    old_count = (
        spark.read.parquet(events_dir)
        .filter(
            (F.col("event_type") == "click")
            & (F.date_trunc("hour", "ts") == F.to_timestamp(F.lit("2024-01-01 00:00:00")))
            & (F.col("event_id") < 999000)
        )
        .count()
    )
    if jan1 is not None:
        assert jan1.n_events == old_count  # late event not double-counted


def test_stateful_running_totals_matches_batch(spark, events_dir, tmp_path):
    """applyInPandasWithState totals equal the batch groupBy, and state
    persists across a checkpointed restart with new data."""
    sink = str(tmp_path / "totals")
    ckpt = str(tmp_path / "ckpt_totals")
    q = ingest.start_running_totals_stream(spark, events_dir, sink, ckpt)
    q.awaitTermination(180)

    got = {r.user_id: (r.n_events, r.total_value) for r in spark.read.parquet(sink).collect()}
    batch = {
        r.user_id: (r.n, r.t)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for u in batch:
        assert got[u][0] == batch[u][0]
        assert abs(got[u][1] - batch[u][1]) < 1e-6

    # restart with one appended event: state carries, count increments
    extra_user = min(batch)
    spark.createDataFrame(
        [(888888, "2024-02-15 00:00:00", extra_user, "click", 2.5, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value", "props"
    ).write.mode("append").parquet(events_dir)

    q2 = ingest.start_running_totals_stream(spark, events_dir, sink, ckpt)
    q2.awaitTermination(180)
    after = {r.user_id: (r.n_events, r.total_value) for r in spark.read.parquet(sink).collect()}
    assert after[extra_user][0] == batch[extra_user][0] + 1
    assert abs(after[extra_user][1] - (batch[extra_user][1] + 2.5)) < 1e-6


def test_sessionize_shape(spark, events_dir):
    stream = ingest.read_event_stream(spark, events_dir)
    sess = ingest.sessionize(stream)
    assert set(sess.columns) == {
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        "sum_value",
    }
    assert sess.isStreaming


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    """A doubled source (every file delivered twice) streams through
    dropDuplicatesWithinWatermark to exactly the batch-distinct rows."""
    src = str(tmp_path / "dup_events")
    ev = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)

    deduped = ingest.dedup_stream(ingest.read_event_stream(spark, src))
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    assert spark.read.parquet(src).count() == 2 * ev.count()
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_stream_join_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream conversion join (views ⋈ purchases within the
    horizon) emits exactly the rows of the same join run as batch."""
    views = ingest.read_event_stream(spark, events_dir).filter(
        "event_type = 'view'"
    )
    purchases = ingest.read_event_stream(spark, events_dir).filter(
        "event_type = 'purchase'"
    )
    joined = ingest.stream_stream_conversion_join(
        views, purchases, horizon_minutes=120
    )
    assert joined.isStreaming
    sink, ckpt = str(tmp_path / "join_out"), str(tmp_path / "join_ckpt")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    static = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    batch = ingest.stream_stream_conversion_join(
        static.filter("event_type = 'view'"),
        static.filter("event_type = 'purchase'"),
        horizon_minutes=120,
    )
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.read.parquet(sink).collect()
    }
    want = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert want, "batch twin produced no rows — test data assumption broken"
    assert got == want


def test_stream_stream_outer_join_flushes_on_watermark(spark, events_dir, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    inner join; unmatched views are held back while a match could
    still arrive and flush as NULL rows once a later run advances the
    watermark past the horizon (the kicker file's far-future events)."""
    import datetime

    src = str(tmp_path / "outer_src")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(src)

    def start(sink, ckpt):
        views = ingest.read_event_stream(spark, src).filter(
            "event_type = 'view'"
        )
        purchases = ingest.read_event_stream(spark, src).filter(
            "event_type = 'purchase'"
        )
        j = ingest.stream_stream_attribution_outer_join(
            views, purchases, horizon_minutes=120
        )
        return (
            j.writeStream.outputMode("append")
            .format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )

    sink, ckpt = str(tmp_path / "outer_out"), str(tmp_path / "outer_ckpt")
    start(sink, ckpt).awaitTermination(180)

    # kicker: one far-future view + purchase (unmatchable users) advance
    # both sides' watermarks past every original event's horizon
    far = datetime.datetime(2030, 1, 1)
    kicker = spark.createDataFrame(
        [
            (10_000_001, far, 999_999_001, "view", 0.0, None),
            (10_000_002, far, 999_999_002, "purchase", 0.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    kicker.write.mode("append").parquet(src)
    start(sink, ckpt).awaitTermination(180)

    static = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    batch_inner = ingest.stream_stream_conversion_join(
        static.filter("event_type = 'view'"),
        static.filter("event_type = 'purchase'"),
        horizon_minutes=120,
    )
    want_matched = {(r.view_id, r.purchase_id) for r in batch_inner.collect()}
    matched_view_ids = {v for v, _ in want_matched}
    all_view_ids = {
        r.event_id for r in static.filter("event_type = 'view'").collect()
    }

    out = spark.read.parquet(sink).filter("view_id < 999999000")
    got_matched = {
        (r.view_id, r.purchase_id)
        for r in out.filter("purchase_id IS NOT NULL").collect()
    }
    got_null_views = {
        r.view_id for r in out.filter("purchase_id IS NULL").collect()
    }
    assert got_matched == want_matched
    assert got_null_views == all_view_ids - matched_view_ids
    assert got_null_views, "no unmatched views — test data assumption broken"


def test_stream_stream_full_outer_join_both_null_shapes(
    spark, events_dir, tmp_path
):
    """FULL OUTER stream-stream join (r03 ask: complete the join
    matrix): matched pairs equal the batch inner join; after the
    watermark kicker, unmatched VIEWS flush with NULL purchase columns
    AND unmatched PURCHASES flush with NULL view columns — the
    symmetric eviction rule, batch-equivalent on both sides."""
    import datetime

    src = str(tmp_path / "fo_src")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(src)

    def start(sink, ckpt):
        views = ingest.read_event_stream(spark, src).filter(
            "event_type = 'view'"
        )
        purchases = ingest.read_event_stream(spark, src).filter(
            "event_type = 'purchase'"
        )
        j = ingest.stream_stream_attribution_outer_join(
            views, purchases, horizon_minutes=120, join_type="fullOuter"
        )
        return (
            j.writeStream.outputMode("append")
            .format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )

    sink, ckpt = str(tmp_path / "fo_out"), str(tmp_path / "fo_ckpt")
    start(sink, ckpt).awaitTermination(180)

    far = datetime.datetime(2030, 1, 1)
    kicker = spark.createDataFrame(
        [
            (10_000_001, far, 999_999_001, "view", 0.0, None),
            (10_000_002, far, 999_999_002, "purchase", 0.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    kicker.write.mode("append").parquet(src)
    start(sink, ckpt).awaitTermination(180)

    static = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    batch_inner = ingest.stream_stream_conversion_join(
        static.filter("event_type = 'view'"),
        static.filter("event_type = 'purchase'"),
        horizon_minutes=120,
    )
    want_matched = {(r.view_id, r.purchase_id) for r in batch_inner.collect()}
    matched_view_ids = {v for v, _ in want_matched}
    matched_purchase_ids = {p for _, p in want_matched}
    all_view_ids = {
        r.event_id for r in static.filter("event_type = 'view'").collect()
    }
    all_purchase_ids = {
        r.event_id for r in static.filter("event_type = 'purchase'").collect()
    }

    out = spark.read.parquet(sink).filter(
        "(view_id IS NULL OR view_id < 999999000)"
        " AND (purchase_id IS NULL OR purchase_id < 999999000)"
    )
    got_matched = {
        (r.view_id, r.purchase_id)
        for r in out.filter(
            "view_id IS NOT NULL AND purchase_id IS NOT NULL"
        ).collect()
    }
    got_null_views = {
        r.view_id for r in out.filter("purchase_id IS NULL").collect()
    }
    got_null_purchases = {
        r.purchase_id for r in out.filter("view_id IS NULL").collect()
    }
    assert got_matched == want_matched
    assert got_null_views == all_view_ids - matched_view_ids
    assert got_null_purchases == all_purchase_ids - matched_purchase_ids
    assert got_null_purchases, "no unmatched purchases — assumption broken"


def _state_partitions(ckpt: str) -> int:
    """Partition dirs of the checkpoint's first stateful operator."""
    return sum(d.isdigit() for d in os.listdir(os.path.join(ckpt, "state", "0")))


def _assert_matches_hourly_batch(spark, sink: str, events):
    got = spark.read.parquet(sink).select("window_start", "event_type", "n_events")
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("b_n"))
    assert got.count() == batch.count()
    j = got.join(batch, ["window_start", "event_type"], "full_outer")
    assert j.filter(~F.col("n_events").eqNullSafe(F.col("b_n"))).count() == 0


@pytest.mark.parametrize(
    "start", ["start_rollup_stream", "start_sliding_rollup_stream"]
)
def test_rollup_stream_runs_on_one_state_partition(spark, tmp_path, start):
    """A new rollup checkpoint gets one state partition, whatever the
    session's shuffle partition count, and the caller's session keeps
    its own count."""
    source = str(tmp_path / "events_src_sized")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(source)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    parallelism = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(parallelism + 2))
    try:
        ckpt = str(tmp_path / "ckpt_sized")
        q = getattr(ingest, start)(spark, source, str(tmp_path / "sink"), ckpt)
        assert spark.conf.get(key) == str(parallelism + 2)
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, prev)
    assert q.exception() is None
    assert _state_partitions(ckpt) == 1


def test_rollup_checkpoint_keeps_its_partition_count_on_restart(spark, tmp_path):
    """A checkpoint started with 32 state partitions (the session's
    count, as the starter used before sizing) restarts under the sized
    starter with its 32 partitions, and the sink still equals the batch
    hourly rollup of everything landed."""
    from data_engineering_for_e_commerce_logistics_spark.sources.sinks import (
        upsert_parquet,
    )

    events = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2
    source = str(tmp_path / "events_src_restart")
    events.where(F.col("ts") < cutoff).write.parquet(source)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt_restart")

    def upsert(batch_df, _batch_id):
        if not batch_df.isEmpty():
            upsert_parquet(
                batch_df.sparkSession, batch_df, sink, ["window_start", "event_type"]
            )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        q = (
            ingest.windowed_rollup(ingest.read_event_stream(spark, source))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, prev)
    q.awaitTermination(120)
    assert _state_partitions(ckpt) == 32

    # later events only, so the watermark drops nothing
    events.where(F.col("ts") >= cutoff).write.mode("append").parquet(source)
    q2 = ingest.start_rollup_stream(spark, source, sink, ckpt)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert _state_partitions(ckpt) == 32
    _assert_matches_hourly_batch(spark, sink, events)


def test_rollup_with_rocksdb_state_store(spark, tmp_path):
    """The RocksDB provider (the 100×-state path) must produce the
    same rollup as the default HDFS-backed provider — same results,
    different state backend.  Conf is restored afterwards so other
    streaming tests keep the default provider.  Stages its OWN source
    dir: the shared events_dir fixture accumulates kicker files from
    the watermark tests, which would skew the batch-equivalence
    count."""
    source = str(tmp_path / "events_src")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(source)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    ingest.enable_rocksdb_state(spark)
    try:
        assert "RocksDBStateStoreProvider" in spark.conf.get(key)
        sink = str(tmp_path / "rollup_rocks")
        ckpt = str(tmp_path / "ckpt_rocks")
        q = ingest.start_rollup_stream(spark, source, sink, ckpt)
        q.awaitTermination(120)
        got = spark.read.parquet(sink)
        batch = (
            read_parquet_table(spark, f"{SF_DIR}/events.parquet")
            .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        assert got.count() == batch.count()
        j = got.select("window_start", "event_type", "n_events").join(
            batch, ["window_start", "event_type"], "full_outer"
        )
        assert (
            j.filter(
                got["n_events"].isNull()
                | batch["n_events"].isNull()
                | (got["n_events"] != batch["n_events"])
            ).count()
            == 0
        )
        # the checkpoint's state dir really is RocksDB-format (zip-based
        # snapshots + changelog files, not the default's .delta files)
        state_root = os.path.join(ckpt, "state")
        assert os.path.isdir(state_root)
        state_files = [
            f
            for root, _, files in os.walk(state_root)
            for f in files
        ]
        assert any(f.endswith((".zip", ".changelog")) for f in state_files), (
            state_files[:20]
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_sliding_rollup_stream_matches_batch(spark, tmp_path):
    """availableNow sliding-window stream result == the same sliding
    window() aggregation over the static frame (closed windows only —
    the final watermark withholds nothing in availableNow + a
    replayed-to-end source)."""
    source = str(tmp_path / "events_src_sliding")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(source)
    sink = str(tmp_path / "sliding_sink")
    ckpt = str(tmp_path / "sliding_ckpt")
    stream = ingest.sliding_rollup(ingest.read_event_stream(spark, source))
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointPath", ckpt)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch = (
        ingest.sliding_rollup(
            read_parquet_table(spark, f"{SF_DIR}/events.parquet")
        )
        # a static frame has no watermark semantics: every window shows
        .withColumnRenamed("n_events", "b_n")
        .withColumnRenamed("sum_value", "b_sum")
    )
    # every emitted (window, type) row matches the batch twin exactly;
    # each event appears in 4 overlapping windows
    j = got.join(batch, ["window_start", "window_end", "event_type"], "inner")
    assert j.count() == got.count()  # no emitted row missing from batch
    assert (
        j.filter(
            (F.col("n_events") != F.col("b_n"))
            | (F.abs(F.col("sum_value") - F.col("b_sum")) > 1e-9)
        ).count()
        == 0
    )
    # sliding factor sanity: total event-window memberships = 4× events
    n_events_total = spark.read.parquet(source).count()
    emitted_memberships = got.agg(F.sum("n_events")).first()[0]
    assert emitted_memberships <= 4 * n_events_total
    assert emitted_memberships >= 3 * n_events_total  # most windows closed


def test_sliding_stream_starter_idempotent_rerun(spark, tmp_path):
    """The sliding starter wires the upsert sink: a second availableNow
    run over the SAME source must not duplicate rows (idempotent key
    upsert), matching the first run's row set exactly."""
    source = str(tmp_path / "events_src_sl2")
    read_parquet_table(spark, f"{SF_DIR}/events.parquet").write.parquet(source)
    sink = str(tmp_path / "sl2_sink")
    ckpt = str(tmp_path / "sl2_ckpt")
    q = ingest.start_sliding_rollup_stream(spark, source, sink, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(sink)
    n1, s1 = first.count(), first.agg(F.sum("n_events")).first()[0]

    q2 = ingest.start_sliding_rollup_stream(spark, source, sink, ckpt)
    q2.awaitTermination(120)
    second = spark.read.parquet(sink)
    assert second.count() == n1
    assert second.agg(F.sum("n_events")).first()[0] == s1


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """The streaming ingest+dedup loop: each micro-batch screens
    against the persisted digest index via incremental_exact_dedup,
    appends only fresh docs to the corpus sink, and appends their
    digests to the index — so a duplicate arriving in a LATER batch is
    dropped even though stateless streaming never saw the earlier one."""
    import os

    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    os.makedirs(src)

    b1 = spark.createDataFrame(
        [(1, "the quick fox"), (2, "lazy dog")], "doc_id int, text string"
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    def dedup_batch(batch_df, batch_id):
        idx = (
            batch_df.sparkSession.read.parquet(index)
            if os.path.exists(index)
            else None
        )
        fresh, delta = incremental_exact_dedup(batch_df, idx)
        fresh.persist()
        fresh.write.mode("append").parquet(corpus)
        delta.write.mode("append").parquet(index)
        fresh.unpersist()

    def run_once():
        q = (
            spark.readStream.schema("doc_id int, text string")
            .parquet(src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(corpus).count() == 2

    # batch 2 arrives later: one cross-batch duplicate, one new doc
    spark.createDataFrame(
        [(10, "THE QUICK  FOX"), (11, "genuinely new")],
        "doc_id int, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    kept = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 2, 11], kept
    assert spark.read.parquet(index).count() == 3


def test_streaming_incremental_neardedup_foreachbatch(spark, tmp_path):
    """Near-dup twin of the streaming ingest+dedup loop: micro-batches
    screen against the persisted SIMHASH index, so a *slightly edited*
    re-post arriving batches later is dropped (hamming <= 3) while
    genuinely new content passes — the stateless-stream + persisted-
    index pattern extends beyond exact matches.

    r11: the persisted index is stored PRE-BANDED (the
    ``simhash_bands_of`` layout VERDICT r10 task 4 calls for) — each
    batch appends its delta's banded rows and the screen consumes the
    index via ``banded_index``, so the ingest loop never re-bands the
    corpus-sized side.  The banded rows carry the fingerprint, so no
    raw-signature table exists at all."""
    import os

    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_simhash_dedup,
        simhash_bands_of,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    os.makedirs(src)

    toks = [f"w{i}" for i in range(120)]
    spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id int, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    def dedup_batch(batch_df, batch_id):
        idx = (
            batch_df.sparkSession.read.parquet(index)
            if os.path.exists(index)
            else None
        )
        fresh, delta = incremental_simhash_dedup(
            batch_df, None, max_hamming=3, banded_index=idx
        )
        fresh.persist()
        fresh.write.mode("append").parquet(corpus)
        simhash_bands_of(delta).write.mode("append").parquet(index)
        fresh.unpersist()
        # drop the operator's batch-signature cache now that both
        # outputs are materialized (cache-lifetime discipline for
        # long-running ingest loops; see the operator docstring)
        batch_df.sparkSession.catalog.clearCache()

    def run_once():
        q = (
            spark.readStream.schema("doc_id int, text string")
            .parquet(src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(corpus).count() == 1

    # later batch: a one-token edit of doc 1 (near-dup) + unrelated text
    spark.createDataFrame(
        [
            (10, " ".join(toks[:-1] + ["zzz"])),
            (11, " ".join(f"q{i}" for i in range(120))),
        ],
        "doc_id int, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    kept = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 11], kept
    # pre-banded layout: 4 band rows per indexed doc, fingerprint on
    # every row
    idx = spark.read.parquet(index)
    assert idx.count() == 2 * 4
    assert sorted(idx.columns) == ["band", "bucket", "doc_id", "simhash"]
    assert idx.select("doc_id").distinct().count() == 2

def test_streaming_incremental_semdedup_foreachbatch(spark, tmp_path):
    """Semantic twin of the streaming ingest+dedup loop (r06, fourth
    family): micro-batches of embeddings screen against the persisted
    (id, v, nrm, cell) index under a fixed codebook, so a slightly
    PERTURBED re-post arriving batches later is dropped (cosine >=
    tau) while genuinely different content passes — semantic identity
    through the same stateless-stream + persisted-index pattern."""
    import os

    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        incremental_semdedup,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    os.makedirs(src)

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id long, cv array<double>",
    )
    spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0])], "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(src)

    def dedup_batch(batch_df, batch_id):
        sess = batch_df.sparkSession
        idx = sess.read.parquet(index) if os.path.exists(index) else None
        fresh, delta = incremental_semdedup(
            batch_df, idx, centroids, tau=0.95
        )
        fresh.persist()
        fresh.write.mode("append").parquet(corpus)
        delta.write.mode("append").parquet(index)
        fresh.unpersist()

    def run_once():
        q = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(corpus).count() == 1

    # later batch: a small perturbation of vec 1 (semantic near-dup,
    # cos ~0.999) + a genuinely different direction in the same cell
    spark.createDataFrame(
        [
            (10, [0.92, 0.09, 0.01]),
            (11, [0.7, 0.1, 0.7]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    kept = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 11], kept
    idx_rows = spark.read.parquet(index)
    assert idx_rows.count() == 2
    assert set(idx_rows.columns) == {"vec_id", "v", "nrm", "cell"}


def test_streaming_incremental_pq_foreachbatch(spark, tmp_path):
    """Compressed-index twin of the streaming ingest+dedup loop (r08,
    FIFTH family): the persisted index holds PQ codes (n_sub small
    ints + residuals — never the vectors), micro-batches screen via
    the triangle-inequality-sound ADC bound, and the exact verify
    resolves survivor vectors from the CORPUS SINK itself (the id ->
    vector lookup a production loop already has on disk).  A
    perturbed re-post arriving batches later is dropped; different
    content in another cell passes."""
    import os

    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        incremental_pq_dedup,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    os.makedirs(src)

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id long, cv array<double>",
    )
    codebook = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (0, 1, [0.0, 0.0]),
            (1, 0, [0.0, 0.0]),
            (1, 1, [0.9, 0.1]),
        ],
        "m int, code long, cv array<double>",
    )
    spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(src)

    def dedup_batch(batch_df, batch_id):
        sess = batch_df.sparkSession
        idx = sess.read.parquet(index) if os.path.exists(index) else None
        lookup = sess.read.parquet(corpus) if idx is not None else None
        fresh, delta = incremental_pq_dedup(
            batch_df, idx, centroids, codebook,
            theta=0.01, dim=4, n_sub=2, corpus_lookup=lookup,
        )
        fresh.persist()
        fresh.write.mode("append").parquet(corpus)
        delta.write.mode("append").parquet(index)
        fresh.unpersist()
        sess.catalog.clearCache()  # the operator's batch-assign cache

    def run_once():
        q = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(corpus).count() == 1

    # later batch: a perturbation of vec 1 (||x-y||^2 = 2e-4 <= theta,
    # cross-batch — only the PQ index remembers it) + a genuinely
    # different vector owned by the other cell
    spark.createDataFrame(
        [
            (10, [0.91, 0.11, 0.0, 0.0]),
            (11, [0.0, 0.1, 0.9, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    kept = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 11], kept
    idx_rows = spark.read.parquet(index)
    assert set(idx_rows.columns) == {"vec_id", "cell", "m", "code", "resid"}
    # codes, never vectors: n_sub rows per kept vector
    assert idx_rows.count() == 4
    assert sorted(
        (r.vec_id, r.m) for r in idx_rows.collect()
    ) == [(1, 0), (1, 1), (11, 0), (11, 1)]
