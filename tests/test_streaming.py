import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_for_dumdums_spark.streaming import incremental_batch_sync, windowed_event_stream

from .conftest import SF_SMOKE


def _sentinel_row(src, event_type="zz_sentinel", days=30):
    """One far-future row that advances the watermark past every real
    window; its own still-open window is filtered out by event_type."""
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    return (
        src.limit(1)
        .withColumn("event_type", F.lit(event_type))
        .withColumn("ts", (F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS")).cast("timestamp"))
    )


def test_windowed_event_stream_append_evicts_and_matches_batch(spark, tmp_path):
    """Append mode (the default): first pass emits ONLY windows the
    watermark has passed (tail windows stay open = bounded state, not a
    complete-mode snapshot); a far-future sentinel then advances the
    watermark, every real window finalizes exactly once, and the emitted
    set equals the batch aggregate."""
    # stage the smoke events as a stream source dir (converting the nanos
    # timestamp column so the stream schema is a plain timestamp)
    from etl_for_dumdums_spark.catalog import Tables

    # watermarks require TIMESTAMP (instant), not NTZ — cast at the source
    src = Tables(spark, SF_SMOKE).events.withColumn("ts", F.col("ts").cast("timestamp"))
    stream_dir = str(tmp_path / "events_stream")
    src.write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = windowed_event_stream(spark, stream_dir, schema, query_name="t_stream")
    try:
        q.processAllAvailable()
        # watermark = max(ts) - 3d: the last week's tumbling window has not
        # finalized yet, so append mode must be holding some windows open
        n_first = spark.sql("SELECT * FROM t_stream").count()
        _sentinel_row(src).write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql(
                "SELECT * FROM t_stream WHERE event_type <> 'zz_sentinel'"
            ).collect()
        }
    finally:
        q.stop()

    batch = (
        src.groupBy(F.window("ts", "1 week").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    )
    expected = {(str(r["win"]["start"]), r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert n_first < len(expected)  # append mode: tail windows were still open
    assert got == expected  # after watermark passes, each emitted exactly once
    assert len(got) > 0


def test_incremental_batch_sync_idempotent(spark, tmp_store):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    incremental_batch_sync(spark, df, tmp_store, "id")
    incremental_batch_sync(spark, df, tmp_store, "id")  # overlapping window
    assert spark.read.parquet(tmp_store).count() == 2


def test_dedup_event_stream_drops_duplicates(spark, tmp_path):
    from etl_for_dumdums_spark.streaming import dedup_event_stream

    from etl_for_dumdums_spark.catalog import Tables

    src = (
        Tables(spark, SF_SMOKE)
        .events.withColumn("ts", F.col("ts").cast("timestamp"))
        .limit(500)
    )
    # duplicate every event (same event_id) — the at-least-once delivery shape
    doubled = src.unionByName(src)
    stream_dir = str(tmp_path / "dup_stream")
    doubled.write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = dedup_event_stream(spark, stream_dir, schema, query_name="t_dedup")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    finally:
        q.stop()
    assert got["n"] == got["d"] == src.count()


def test_sliding_event_stream_matches_batch_twin(spark, tmp_path):
    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.catalog.advanced import stream_sliding_weekly
    from etl_for_dumdums_spark.streaming import sliding_event_stream

    from .conftest import SF_SMOKE as _SF

    src = Tables(spark, _SF).events.withColumn("ts", F.col("ts").cast("timestamp"))
    stream_dir = str(tmp_path / "sliding_stream")
    src.write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = sliding_event_stream(spark, stream_dir, schema, query_name="t_sliding")
    try:
        q.processAllAvailable()
        # append mode (the default): windows the watermark hasn't passed are
        # still open state, absent from the sink
        n_first = spark.sql("SELECT * FROM t_sliding").count()
        _sentinel_row(src).write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        got = {
            (str(r["window_start"])[:10], r["event_type"]): r["n_events"]
            for r in spark.sql(
                "SELECT * FROM t_sliding WHERE event_type <> 'zz_sentinel'"
            ).collect()
        }
    finally:
        q.stop()

    batch = stream_sliding_weekly(spark, _SF).collect()
    expected = {(str(r["window_start"]), r["event_type"]): r["n_events"] for r in batch}
    assert n_first < len(expected)  # eviction semantics: tail windows open
    assert got == expected  # watermark-finalized set equals the batch twin
    assert len(got) > 0


def test_sliding_stream_append_drops_late_rows(spark, tmp_path):
    """Append mode + watermark: a row arriving later than the watermark is
    dropped — its window has already finalized without it."""
    import datetime as dt

    from etl_for_dumdums_spark.streaming import sliding_event_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream_dir = str(tmp_path / "late_stream")
    d = dt.datetime(2024, 3, 20, 12, 0, 0)
    batch1 = spark.createDataFrame(
        [(1, d, 1, "click", 1.0), (2, d + dt.timedelta(days=10), 1, "click", 1.0)],
        schema,
    )
    batch1.write.mode("append").parquet(stream_dir)

    q = sliding_event_stream(
        spark,
        stream_dir,
        schema,
        window="1 day",
        slide="1 day",
        watermark="1 day",
        output_mode="append",
        query_name="t_late",
    )
    try:
        q.processAllAvailable()
        # watermark is now day+10 - 1d; this row is 10 days older -> dropped
        late = spark.createDataFrame([(3, d, 1, "click", 5.0)], schema)
        late.write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT window_start, n_events FROM t_late ORDER BY window_start"
        ).collect()
    finally:
        q.stop()
    # the finalized 2024-03-20 window emitted exactly the one on-time event;
    # the late duplicate never re-opened or re-emitted it
    emitted = {str(r["window_start"])[:10]: r["n_events"] for r in rows}
    assert emitted.get("2024-03-20") == 1


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.streaming import stream_stream_click_purchase_join

    from .conftest import SF_SMOKE as _SF

    src = Tables(spark, _SF).events.withColumn("ts", F.col("ts").cast("timestamp"))
    stream_dir = str(tmp_path / "ss_join_stream")
    src.write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = stream_stream_click_purchase_join(spark, stream_dir, schema, query_name="t_ssj")
    try:
        q.processAllAvailable()
        got = {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM t_ssj").collect()
        }
    finally:
        q.stop()

    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")),
        )
        .select("purchase_id", "click_id")
        .collect()
    )
    expected = {(r["purchase_id"], r["click_id"]) for r in batch}
    assert got == expected
    assert len(got) > 0


def test_merge_stream_sink_exactly_once_state(spark, tmp_path):
    """At-least-once input (every event duplicated, plus a second replay
    file) must collapse to exactly-once table state via the MERGE sink."""
    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.streaming import merge_stream_sink

    from .conftest import SF_SMOKE as _SF

    src = (
        Tables(spark, _SF)
        .events.withColumn("ts", F.col("ts").cast("timestamp"))
        .limit(300)
    )
    stream_dir = str(tmp_path / "merge_stream")
    target = str(tmp_path / "merge_target")
    src.unionByName(src).write.mode("append").parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = merge_stream_sink(spark, stream_dir, schema, target, query_name="t_merge_sink")
    try:
        q.processAllAvailable()
        # replay the same rows again (a second at-least-once delivery)
        src.write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    stored = spark.read.parquet(target)
    assert stored.count() == src.count()
    assert stored.select("event_id").distinct().count() == src.count()


def test_session_event_stream_matches_batch(spark, tmp_path):
    """Streaming session_window must produce the identical per-session frame
    as the batch session_window over the same events (the gap rule the
    catalog's win_sessionize states with lag + running sum).

    The sink is APPEND mode (bounded state — complete mode would retain
    every session forever), so sessions only emit once the watermark passes
    their end: a second micro-batch carrying one far-future sentinel event
    advances the watermark past all real sessions, which then emit exactly
    once; the sentinel's own still-open session stays unemitted."""
    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.streaming import session_event_stream

    src = Tables(spark, SF_SMOKE).events.withColumn("ts", F.col("ts").cast("timestamp"))
    stream_dir = str(tmp_path / "events_sessions_src")
    src.write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema

    q = session_event_stream(spark, stream_dir, schema, query_name="t_sessions")
    try:
        q.processAllAvailable()
        # only sessions already past the 3-day watermark have finalized;
        # the tail (last 3 days of data) must still be open state
        n_first = spark.sql("SELECT * FROM t_sessions").count()
        max_ts = src.agg(F.max("ts")).collect()[0][0]
        sentinel = (
            src.limit(1)
            .withColumn("user_id", F.lit(-999999).cast(src.schema["user_id"].dataType))
            .withColumn(
                "ts", (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")).cast("timestamp")
            )
        )
        sentinel.write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], str(r["session_start"]), r["n_events"], r["dur_us"])
            for r in spark.sql("SELECT * FROM t_sessions").collect()
        )
    finally:
        q.stop()

    batch = (
        src.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(
            F.count("*").alias("n"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("long")
            .alias("d"),
        )
        .collect()
    )
    expected = sorted((r["user_id"], str(r["win"]["start"]), r["n"], r["d"]) for r in batch)
    assert n_first < len(expected)  # append mode: tail sessions were still open
    assert got == expected
    assert len(got) > 0
    assert any(n > 1 for _, _, n, _ in got)  # multi-event sessions exist
