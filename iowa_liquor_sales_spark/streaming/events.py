"""Streaming ingest & windowed aggregation over the events stream.

The reference has no streaming — its chunk loop (src/extract.py:46-57) is
incremental *batch* I/O (SURVEY §2.7). This module is the faithful scale-up
of that pattern: a file-source stream (each landed file ≈ one reference
"chunk"), event-time windows with a watermark for late data, and an
``availableNow`` trigger that drains everything currently staged and stops —
exactly the reference's "run until the API returns an empty page" semantics,
but restartable via checkpoint instead of chunk numbering.

The batch twin :func:`windowed_counts_batch` computes identical results on
the same data (tested in tests/test_streaming.py), which is what makes the
streaming operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iowa_liquor_sales_spark.functions.sums import dsum
from iowa_liquor_sales_spark.schemas import TESTDATA_SCHEMAS

# The declared events schema with ``ts`` as TIMESTAMP instead of the stored
# TIMESTAMP_NTZ: ``withWatermark`` rejects an NTZ event-time column
# (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the stream reads it zoned.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()) if f.name == "ts" else f
        for f in TESTDATA_SCHEMAS["events"]
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = "2 hours"
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark.

    State scales with (#open windows × #event types), not with input volume;
    the watermark bounds open windows, so this runs indefinitely at any
    input rate. Works on both streaming and batch DataFrames.

    Pass ``watermark=None`` when composing after an operator that already
    set one (a stream's watermark is defined ONCE at the source; Spark
    rejects redefinition downstream).
    """
    with_wm = (
        events.withWatermark("ts", watermark)
        if events.isStreaming and watermark
        else events
    )
    return (
        with_wm.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2, "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_counts_batch(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch twin of :func:`windowed_counts` (same plan minus watermark)."""
    return windowed_counts(events, window=window)


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Drain all currently-available input into a parquet sink and stop —
    the reference's bounded ingest loop (stop-on-empty-page,
    src/extract.py:48-49), with exactly-once file output via checkpoint.
    Use for raw/silver row streams (append mode)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup: drop re-deliveries of the same
    event id. With a watermark, Spark bounds the dedup state to keys newer
    than the watermark — the unbounded-stream-safe form (state is O(keys
    per watermark window), not O(stream)). The batch twin is
    ``dropDuplicates`` on the same keys.

    ``watermark=None``: assume the caller already set the stream's
    watermark (it is defined once at the source — see windowed_counts).
    When composing dedup → windowed agg, set it HERE and pass None
    downstream."""
    keys = key_cols or ["event_id"]
    if events.isStreaming:
        wm = events.withWatermark("ts", watermark) if watermark else events
        return wm.dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def run_foreach_batch(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sink,
    trigger_available_now: bool = True,
) -> None:
    """Micro-batch sink adapter: each micro-batch DataFrame is handed to
    ``sink(df, batch_id)``. This is how the reference's Postgres load stage
    becomes a *streaming* consumer (live-feed parity, SURVEY §2.7): pass a
    sink that calls ``sources.writers.write_jdbc`` (or the COPY fast path)
    and the checkpoint gives at-least-once delivery with batch_id for
    dedup/idempotence on the DB side."""
    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def run_windowed_to_memory(
    agg_df: DataFrame, table_name: str, checkpoint_dir: str
) -> None:
    """Run a streaming windowed aggregate to an in-memory table in
    ``complete`` mode and drain with availableNow. (Append-mode file sinks
    only emit windows older than the watermark — on a bounded drain the
    tail windows would be withheld, so tests/demos use complete+memory;
    production continuous jobs use append + a real sink.)"""
    q = (
        agg_df.writeStream.format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Stream-stream event-time interval join: every purchase matched to
    ALL of the same user's clicks in the preceding ``max_gap``.

    This is the canonical watermarked stream-stream join: with a
    watermark on BOTH sides plus the event-time range in the join
    condition, Spark can bound each side's join state (a click older than
    watermark + max_gap can never match a future purchase and is evicted),
    so the join runs indefinitely at any stream rate — state is
    O(events per gap window), not O(stream).

    Works identically on batch DataFrames (the batch twin used by the
    equivalence test): same plan minus watermarks/state.
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming and watermark:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (p["user_id"] == c["user_id"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {max_gap}"))
    )
    return p.join(c, cond, "inner").select(
        p["user_id"],
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def sliding_counts(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    duration/slide overlapping windows. Spark's ``window()`` expands the
    row once per overlapping window BEFORE the shuffle, so partial
    aggregation still collapses each partition to one row per
    (window, ...) group — shuffle volume is O(open windows), not O(events
    × overlap). Works on streaming (bounded state via the watermark) and
    batch DataFrames alike."""
    with_wm = (
        events.withWatermark("ts", watermark)
        if events.isStreaming and watermark
        else events
    )
    return (
        with_wm.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Exact distinct is a batch-only luxury; on a stream swap in
            # approx_count_distinct (distinct aggs are unsupported there).
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "n_users",
        )
    )
