"""Structured Streaming surface over the events table.

The reference has no true streaming engine — its "streams" are scheduled
incremental batch syncs with lookback windows + MERGE upsert (SURVEY.md
§2.13). This module exposes both halves of that mapping:

  * ``incremental_batch_sync`` — Trigger.AvailableNow-style incremental
    batch (the faithful equivalent of the reference's cron syncs);
  * ``windowed_event_stream`` — a real Structured Streaming query with
    watermarking + tumbling windows (the `posted_week` aggregation as a
    stream), for engines that want live ingestion.

Tests drive these with the memory sink + processAllAvailable().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def windowed_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    window: str = "1 week",
    watermark: str = "3 days",
    output_mode: str = "append",
    query_name: str = "events_windowed",
) -> StreamingQuery:
    """Tumbling-window count/sum over a parquet-backed stream — the
    streaming twin of the reference's trailing-lookback re-sync
    (CLAUDE.md:66-68).

    Output mode defaults to APPEND — the only mode under which the
    watermark actually bounds state on an unbounded stream: a window is
    emitted exactly once, when the watermark passes its end, and its
    aggregate state is then evicted; rows later than the watermark are
    dropped instead of re-merged. The corollary: windows newer than
    ``watermark`` relative to the max seen event time stay open (absent
    from the sink) until a later batch advances the watermark past them.

    ``output_mode="complete"`` is accepted as a test-only convenience for
    point-in-time snapshots of ALL windows including still-open ones — but
    in complete mode Spark retains every window's aggregate forever and
    late rows are still merged, so state is O(stream length): do not use
    it on an unbounded production stream.
    """
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )


def incremental_batch_sync(
    spark: SparkSession,
    source_df: DataFrame,
    target_path: str,
    primary_key: str,
    lookback_filter=None,
) -> None:
    """The reference's actual 'streaming': re-read a trailing window and
    MERGE by key (idempotent; duplicate arrivals collapse on the pk)."""
    from ..io import merge_table

    df = source_df.filter(lookback_filter) if lookback_filter is not None else source_df
    merge_table(spark, df, target_path, primary_key)


def dedup_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    key_cols: list[str] | None = None,
    watermark: str = "3 days",
    query_name: str = "events_deduped",
) -> StreamingQuery:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so dedup state is O(keys-per-watermark-window),
    never O(all keys ever seen) — the requirement for an unbounded stream.
    Complements streaming/stateful.py's applyInPandasWithState variant
    (custom per-key logic) with the engine-native operator.
    """
    key_cols = key_cols or ["event_id"]
    events = spark.readStream.schema(schema).parquet(path)
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def sliding_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "3 days",
    output_mode: str = "append",
    query_name: str = "events_sliding",
) -> StreamingQuery:
    """Sliding-window count/sum over a parquet-backed stream (streaming twin
    of the catalog's ``stream_sliding_weekly``). Each event lands in
    window/slide overlapping windows.

    Output mode defaults to APPEND — the only mode where the watermark
    bounds state: it gates BOTH late-data acceptance and when a window
    finalizes, emits once, and has its state evicted, so live state is
    O(open windows × group keys) — a constant overlap factor independent
    of total stream length. Windows whose end the watermark has not yet
    passed stay open and absent from the sink until a later batch advances
    the watermark.

    ``output_mode="complete"`` remains accepted as a test-only snapshot of
    all windows including open ones — but complete mode retains every
    window's aggregate forever (state grows with stream length) and late
    rows are still merged: not for unbounded production streams.
    """
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_stream_click_purchase_join(
    spark: SparkSession,
    path: str,
    schema,
    max_gap: str = "10 minutes",
    watermark: str = "1 day",
    query_name: str = "events_ss_join",
) -> StreamingQuery:
    """Watermarked stream-stream inner join: each purchase joined to the
    same user's clicks in the trailing ``max_gap`` window. Both sides carry
    watermarks and the join condition bounds event-time distance, so Spark
    can evict buffered state once the watermark passes — the requirement
    for an unbounded two-stream join (state is O(events per watermark
    horizon), never O(stream length)).
    """
    events = spark.readStream.schema(schema).parquet(path)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {max_gap}
            """
        ),
        "inner",
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def merge_stream_sink(
    spark: SparkSession,
    path: str,
    schema,
    target_path: str,
    primary_key: str = "event_id",
    query_name: str = "events_merge_sink",
) -> StreamingQuery:
    """foreachBatch → MERGE upsert: the production streaming sink pattern.
    Each micro-batch runs the SAME merge_table the batch syncs use (Delta
    MERGE where available, join-rewrite otherwise), so at-least-once
    delivery collapses to exactly-once table state on the primary key —
    the streaming twin of the reference's incremental sync + MERGE loop.
    """
    from ..io import merge_table

    events = spark.readStream.schema(schema).parquet(path)

    def sink(batch_df, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # dedupe within the batch first (a batch can carry the same key
        # twice); cross-batch dupes collapse in the MERGE itself
        deduped = batch_df.dropDuplicates([primary_key])
        merge_table(spark, deduped, target_path, primary_key)

    return (
        events.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .option("checkpointLocation", target_path + "_checkpoint")
        .start()
    )


def session_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "3 days",
    query_name: str = "events_sessions",
) -> StreamingQuery:
    """Native session windows over a parquet-backed stream — the streaming
    side of the catalog's gap-rule ``win_sessionize`` (which compares whole
    seconds): sessions extend while the next event arrives within ``gap`` of
    the previous one; the watermark
    closes sessions and evicts their state once no on-time event can still
    merge into them (bounded state on an unbounded stream — without it the
    open-session map grows with the user population forever).

    Output mode is APPEND — the only mode under which the eviction claim
    above is true: each session is emitted exactly once, when the watermark
    passes its end, and its state is then dropped. (complete mode would
    force Spark to retain every session's aggregate forever and
    re-materialize the full result each trigger — r3 advice finding #1.)
    The corollary callers must know: a session is only emitted after a
    LATER batch advances the watermark past ``session_end + watermark``;
    still-open or not-yet-finalized sessions are absent from the sink until
    then.
    """
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("long")
            .alias("dur_us"),
        )
        .select(
            "user_id", F.col("win.start").alias("session_start"), "n_events", "dur_us"
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
