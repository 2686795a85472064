"""Structured Streaming ingestion — SURVEY §2.8 (beyond-parity).

The reference has no streaming implementation (Kafka is a commented
dependency, requirements.txt:24; ingestion is a daily Airflow batch).
The idiomatic Spark upgrade of its poll-and-batch design:

    file source (parquet dir, new files picked up incrementally)
      → event-time watermark (late-data bound)
      → tumbling-window aggregates (the streaming twin of
        plans/relational_queries.events_hourly_rollup — identical
        results per window once the watermark closes it)
      → foreachBatch upsert into the serving store (reusing the batch
        MERGE rewrite, so batch and streaming share one sink path)

At scale: the file source scales by listing parallelism, state is
bounded by (windows in watermark horizon × event types), and
foreachBatch writes are idempotent via the upsert key — giving
effectively-exactly-once output on top of checkpointed offsets.

State partitions: a stateful operator keeps one state store per
shuffle partition and commits every one of them each micro-batch,
however few rows it holds.  ``start_rollup_stream`` and
``start_sliding_rollup_stream`` start their query on ONE state
partition (``_start_bounded_state``), at any input rate: the rollup's
state is (windows in the watermark horizon × event types), and every
map task partially aggregates its rows before the state shuffle, so
the stateful stage is as small as a global aggregate's final stage.
The scan and the partial aggregation keep full parallelism.  Spark
records the partition count in the checkpoint's offset log and a
restart reuses it, so a checkpoint started with more partitions keeps
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# RocksDB state store: the 100×-state path for the stateful operators
# (windowed aggs, stream-stream joins, dedup, applyInPandasWithState).
# The default HDFS-backed provider keeps every key in executor heap —
# fine for hour-window rollups, lethal when join state or dedup keys
# grow to hundreds of GB per executor.  RocksDB spills state to local
# disk with bounded memory, and changelog checkpointing uploads only
# per-batch deltas instead of full snapshots, so checkpoint cost stays
# proportional to the batch, not the state.  Provider is a session
# conf (picked up at query START, per-query override not supported by
# Spark), hence a helper rather than a start_* parameter.
ROCKSDB_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Switch subsequently-started streaming queries to the RocksDB
    state store (bundled with Spark ≥3.2; no extra dependency).
    Existing checkpoints keep their original provider — Spark does not
    migrate state formats — so flip this before first start."""
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file-source reader over an events directory."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def windowed_rollup(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type rollup with late-data watermark.

    Batch-equivalence: on a static frame this produces exactly
    events_hourly_rollup's groups (window.start == date_trunc) —
    the property the oracle-checked batch twin pins down.
    approx_count_distinct replaces countDistinct because exact
    distinct state is unbounded per window at stream scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "approx_users",
            "sum_value",
        )
    )


def start_rollup_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
):
    """Wire source → rollup → foreachBatch upsert and start the query.

    availableNow processes the current backlog then stops — the batch
    refresh mode; drop it for a continuously-running micro-batch job.

    The rollup's state is (windows in the watermark horizon × event
    types), so a new checkpoint runs it on one state partition; an
    existing checkpoint keeps the count it was started with
    (``_start_bounded_state``).
    """
    rollup = windowed_rollup(
        read_event_stream(spark, source_path), window_duration, watermark
    )
    writer = (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_upsert_batches(sink_path, ["window_start", "event_type"]))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return _start_bounded_state(spark, writer)


def _upsert_batches(sink_path: str, key_columns: list[str]):
    """foreachBatch body: upsert each non-empty micro-batch into
    ``sink_path`` on ``key_columns``.  The batch is persisted for the
    body's lifetime: without it ``isEmpty`` and the upsert's write each
    re-execute the micro-batch's stateful plan."""
    from ..sources.sinks import upsert_parquet

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                upsert_parquet(
                    batch_df.sparkSession, batch_df, sink_path, key_columns
                )
        finally:
            batch_df.unpersist()

    return upsert_batch


def _start_bounded_state(spark: SparkSession, writer):
    """Start ``writer`` with ``spark.sql.shuffle.partitions`` set to 1,
    for aggregations whose state is bounded by windows × groups.

    Each state partition is a state store committed every micro-batch,
    and each commit writes checkpoint files, so the session's
    batch-sized count (32) costs per-batch commits and tasks that the
    state does not need.  Every map task partially aggregates its rows
    before the state shuffle, so one partition receives at most
    (windows × groups) rows per map task, whatever the input rate;
    the scan and the partial aggregation keep full parallelism.  The
    ``foreachBatch`` body runs in the query's session, so it also
    plans on one partition: the rollup sink is (hours × event types)
    rows.  The conf is set only around ``start()``: the query clones
    the session there, and the caller's session gets its value back.
    A new checkpoint records the count in its offset log; a restarted
    one restores the count it recorded, so its state keeps its
    layout."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        return writer.start()
    finally:
        spark.conf.set(key, prev)


RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

RUNNING_TOTALS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) maintained across micro-batches in the state
    store, emitting the updated totals each batch.

    This is the arbitrary-state escape hatch for operators windowed
    aggregation can't express (per-key accumulators, ML feature state,
    CDC merge logic).  State size is O(distinct users); eviction via
    GroupStateTimeout when keys churn."""
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_OUTPUT,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_running_totals_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
):
    """events stream → stateful running totals → foreachBatch upsert
    keyed on user_id (latest state wins, idempotent re-runs).

    State grows with distinct users, so this stream keeps the session's
    shuffle partition count."""
    totals = running_user_totals(read_event_stream(spark, source_path))
    return (
        totals.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_upsert_batches(sink_path, ["user_id"]))
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps each
    key's state only inside the watermark horizon, turning an
    at-least-once source (file redelivery, Kafka replays) into
    effectively-exactly-once rows — the streaming twin of the batch
    exact-dedup operator (operators/dedup.exact_duplicates).

    State is O(distinct keys within the horizon), not O(stream): the
    watermark is the eviction policy.  Plain dropDuplicates on a
    stream would grow state forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys) if keys else ["event_id"]
    )


def stream_stream_conversion_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchase events joined to the view
    events of the same user that preceded them within
    ``horizon_minutes`` (the attribution/conversion join).

    Both sides are watermarked and the join condition bounds event-time
    distance, so each side's buffered state is limited to
    watermark + horizon — the two conditions Spark requires to evict
    stream-stream join state at all.  An unbounded-time stream join
    would buffer both streams forever; this shape is the scalable
    form."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return v.join(p, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def stream_stream_attribution_outer_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 60,
    watermark: str = "2 hours",
    join_type: str = "leftOuter",
) -> DataFrame:
    """OUTER stream-stream join (left / right / full): every view
    emits — joined to the purchases it converted into within
    ``horizon_minutes``, or with NULL purchase columns once the
    watermark guarantees no match can still arrive.  The
    unattributed-traffic report as a stream.

    Outer stream-stream joins have a semantics Spark alone among the
    batch-SQL engines makes explicit: the null row for an unmatched
    view is emitted only when event time has provably passed the match
    horizon (watermark + horizon), because until then a matching
    purchase could still arrive.  Same state bound as the inner form —
    both sides buffered only inside watermark + horizon.

    ``join_type``: Spark supports ``leftOuter``, ``rightOuter`` and
    ``fullOuter`` for watermarked time-bounded stream-stream joins;
    the state bound and eviction rule are symmetric (each side's
    buffer is still watermark + horizon — ``rightOuter`` here means
    every PURCHASE emits, with NULL view columns for organic/
    unattributed purchases; ``fullOuter`` emits both null shapes).

    availableNow caveat (tested): a terminating run holds back
    unmatched rows still inside the final watermark; they flush on the
    next incremental run once later data advances the watermark."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    assert join_type in ("leftOuter", "rightOuter", "fullOuter"), join_type
    return v.join(p, cond, join_type).select(
        F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based) per user — the stateful-windowing
    operator family the reference lacks entirely."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING-window per-type rollup: each event lands in
    duration/slide overlapping windows (4 for 1h/15m) — the moving-
    average / rate-monitor shape tumbling windows can't express.

    State cost is the tumbling cost × the overlap factor (each event
    updates duration/slide windows inside the watermark horizon), so
    slide is the knob that trades freshness for state — pick it
    deliberately at 100 TB, and route large-state deployments through
    ``enable_rocksdb_state``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def start_sliding_rollup_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    window_duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
):
    """source → sliding rollup → foreachBatch upsert keyed on
    (window_start, window_end, event_type) — window_end joins the key
    because sliding windows of different durations may share a start.

    Bounded state, like ``start_rollup_stream``: a new checkpoint runs
    on one state partition and an existing one keeps its count."""
    rollup = sliding_rollup(
        read_event_stream(spark, source_path), window_duration, slide, watermark
    )
    writer = (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(
            _upsert_batches(sink_path, ["window_start", "window_end", "event_type"])
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return _start_bounded_state(spark, writer)


def start_dedup_ingest_stream(
    spark: SparkSession,
    source_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    screen,
    schema: str | T.StructType = "doc_id int, text string",
    compact_every: int = 8,
    compact_target_rows: int = 1_000_000,
    compact_sort_col: str | None = None,
    sidecars: dict | None = None,
    trigger_available_now: bool = True,
):
    """The production shape of the stateless-stream + persisted-index
    dedup ingest loop (the pattern every incremental family shares —
    exact digests, MinHash, SimHash, semantic): each micro-batch

    1. reads the current index (None on first batch),
    2. screens via ``screen(batch_df, index_df) -> (fresh, delta)``
       — any of ``incremental_exact_dedup`` / ``_minhash_`` /
       ``_simhash_`` / ``incremental_semdedup`` partials fits,
    3. writes ``fresh`` to a batch_id-keyed partition of the corpus
       sink (idempotent under micro-batch replay — see the in-body
       comment) and appends ``delta`` to the index, then drops the
       operator's per-batch signature cache,
    4. every ``compact_every`` batches, swap-compacts the index
       (``layout.compact_in_place``) so index fragmentation is
       bounded by index SIZE, not ingest AGE (VERDICT r06 ask #7 —
       without this a long-running loop accumulates one small file
       per batch per partition, and the per-batch index read slows
       with file COUNT even while index rows stay flat).

    Duplicates arriving in LATER batches are dropped even though the
    stateless stream never saw the earlier ones — cross-batch memory
    lives entirely in the persisted index, so the stream itself needs
    no state store and restarts resume from the checkpointed offsets
    plus the on-disk index.  Compaction keys off ``batch_id`` (not a
    Python counter) so the rhythm survives restarts.

    At scale: partition the index by the screen's join key (``cell``
    for semdedup, band for minhash/simhash) and pass it as
    ``compact_sort_col`` — the compaction rewrite then restores the
    clustering the cell-keyed screen join co-locates on.

    ``sidecars`` carries derived index projections alongside the main
    index — the minhash family's persisted BANDED index is the
    motivating case (``bands_of(delta)`` appended per batch lets the
    screen skip the per-batch O(index × bands) re-banding explode).
    Shape: ``{name: (path, delta_projection)}``.  When present, the
    loaded sidecar frames (None before first append) are passed to
    ``screen`` as a third argument ``{name: DataFrame | None}``, each
    projection of the batch's delta appends to its path, and sidecar
    paths compact on the same batch_id rhythm as the index."""
    from ..fsio import fs_exists, fs_join
    from ..operators.layout import compact_in_place

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        idx = (
            sess.read.parquet(index_path)
            if fs_exists(sess, index_path)
            else None
        )
        if sidecars:
            loaded = {
                name: (
                    sess.read.parquet(path)
                    if fs_exists(sess, path)
                    else None
                )
                for name, (path, _) in sidecars.items()
            }
            fresh, delta = screen(batch_df, idx, loaded)
        else:
            fresh, delta = screen(batch_df, idx)
        fresh.persist()
        delta.persist()
        # Idempotent corpus write (ADVICE r07): a crash between the
        # corpus and index writes replays this batch_id, and the
        # recomputed ``fresh`` (the index still lacks delta) would
        # APPEND the same rows twice.  Writing under a batch_id-keyed
        # partition directory makes the replay per-batch: overwrite
        # replaces any PARTIAL attempt (no ``_SUCCESS``), and a
        # COMMITTED partition is left untouched — the skip matters
        # because a replay after the index append recomputes an EMPTY
        # ``fresh`` (the batch's own signatures screen it out), which
        # must not clobber the committed rows.  The index append is
        # naturally idempotent for the same reason: post-index-crash
        # replays recompute an empty delta.  Net: exactly-once corpus
        # rows without a state store; readers scan ``corpus_path`` as
        # a partitioned table (batch_id becomes a discovered,
        # prunable lineage column).
        part_dir = fs_join(corpus_path, f"batch_id={batch_id}")
        if not fs_exists(sess, fs_join(part_dir, "_SUCCESS")):
            fresh.write.mode("overwrite").parquet(part_dir)
        delta.write.mode("append").parquet(index_path)
        for name, (path, project) in (sidecars or {}).items():
            project(delta).write.mode("append").parquet(path)
        fresh.unpersist()
        delta.unpersist()
        # cache-lifetime discipline: the incremental operators cache
        # their batch signature frame for the caller's batch lifetime
        sess.catalog.clearCache()
        if (batch_id + 1) % compact_every == 0:
            compact_in_place(
                sess,
                index_path,
                target_rows_per_file=compact_target_rows,
                sort_col=compact_sort_col,
            )
            for name, (path, _) in (sidecars or {}).items():
                if fs_exists(sess, path):
                    compact_in_place(
                        sess, path, target_rows_per_file=compact_target_rows
                    )

    reader = spark.readStream.schema(schema)
    writer = (
        reader.parquet(source_path)
        .writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
