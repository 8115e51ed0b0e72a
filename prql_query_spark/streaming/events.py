"""Structured Streaming operators over the events table.

The reference is batch-only (SURVEY.md §2.B: "Streaming operators: none"),
so this module is extension tier: the same windowed aggregations exposed both
as batch DataFrame ops (oracle-checkable) and as streaming pipelines with
watermarks for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from prql_query_spark.streaming.microbatch import (
    file_stream, read_batches, start_batches, write_batch)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Batch tumbling-window counts — the oracle-checkable twin of the
    streaming version below (same logical plan modulo the watermark)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def sliding_avg(events: DataFrame, width: str = "1 hour",
                slide: str = "30 minutes") -> DataFrame:
    # avg in exact integer cents: 2-decimal sums divided by small window
    # counts land EXACTLY on round-half boundaries, where both float
    # summation order and the engines' differing round-at-scale paths flip
    # the 4th decimal.  cents*100/n is either exactly representable at .5
    # (both engines round away from zero) or >= 1/(2n) from the boundary —
    # far beyond any float error.
    s_cents = (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long")
    exact_avg = F.round(s_cents.cast("double") * 100 / F.count(F.lit(1))) / 10000
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(exact_avg.alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "avg_value", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (native session_window, no state UDF)."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events", "session_value",
        )
    )


def _event_stream(spark: SparkSession, events_path: str,
                  watermark: str | None):
    """`microbatch.file_stream` over an events parquet path, one file per
    micro-batch, with `ts` as a watermarkable TIMESTAMP.  Pass
    watermark=None when the caller attaches its own (e.g. on a renamed
    column for a stream-stream join — Spark disallows redefining a
    watermark)."""
    stream = file_stream(spark, events_path, max_files_per_trigger=1)
    # Watermarks require a session-tz TIMESTAMP; parquet written with
    # isAdjustedToUTC=false reads back as TIMESTAMP_NTZ, so cast it.
    if isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark is None:
        return stream
    return stream.withWatermark("ts", watermark)


def _start_memory_sink(agg, queryName: str, checkpoint: str | None):
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def stream_tumbling_counts(
    spark: SparkSession,
    events_path: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
    queryName: str = "pq_stream_counts",
):
    """Streaming twin of `tumbling_counts`: file-stream source with a
    watermark for late data.  Returns the started StreamingQuery writing to
    a memory sink (caller stops it).  At scale: swap source/sink for
    Kafka/Delta; the middle of the pipeline is unchanged.
    """
    stream = _event_stream(spark, events_path, watermark)
    agg = (
        stream.groupBy(F.window("ts", width), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return _start_memory_sink(agg, queryName, checkpoint)


def stream_sliding_avg(
    spark: SparkSession,
    events_path: str,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
    queryName: str = "pq_stream_sliding",
):
    """Streaming twin of `sliding_avg` (overlapping windows: each event
    lands in width/slide windows; state is bounded by the watermark)."""
    stream = _event_stream(spark, events_path, watermark)
    s_cents = (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long")
    exact_avg = F.round(s_cents.cast("double") * 100 / F.count(F.lit(1))) / 10000
    agg = (
        stream.groupBy(F.window("ts", width, slide))
        .agg(exact_avg.alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "avg_value", "n")
    )
    return _start_memory_sink(agg, queryName, checkpoint)


def stream_dedup(
    spark: SparkSession,
    events_path: str,
    keys: list[str],
    watermark: str = "2 hours",
    checkpoint: str | None = None,
    queryName: str = "pq_stream_dedup",
):
    """Streaming exact dedup across microbatches.

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes the key's first-seen event time, so state is BOUNDED —
    the property that makes streaming dedup viable on an unbounded 100 TB/day
    feed (plain `dropDuplicates` on a stream grows state forever).  Batch
    twin: `dedup_exact` (operators/dedup.py).  Returns the started query
    (memory sink, append mode).
    """
    stream = _event_stream(spark, events_path, watermark)
    deduped = stream.dropDuplicatesWithinWatermark(keys)
    return _start_memory_sink(deduped, queryName, checkpoint)


def stream_to_warehouse(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    checkpoint: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
    queryName: str = "pq_stream_sink",
):
    """Stream windowed aggregates into a partitioned parquet 'warehouse'
    table, idempotently.

    Exactly-once story without Delta: each microbatch lands through
    `microbatch.write_batch`, so a replayed batch after a crash rewrites
    its own partition instead of duplicating rows.  Readers get exact-once
    rows with `read_warehouse`.  At scale the same pattern lands on a real
    table format; the per-batch write is what MERGE would be.
    """
    stream = _event_stream(spark, events_path, watermark)
    agg = (
        stream.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return start_batches(
        agg, lambda df, batch_id: write_batch(df, batch_id, out_dir),
        checkpoint, queryName)


def read_warehouse(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the `stream_to_warehouse` sink back as a plain table."""
    return read_batches(spark, out_dir)


def stream_enriched_counts(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    on: str = "user_id",
    dim_attr: str = "segment",
    width: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
    queryName: str = "pq_stream_enriched",
):
    """Stream-static enrichment join + windowed counts per dim attribute.

    The static side is planned as a broadcast per microbatch (no stream
    state for the join itself — only the downstream window agg holds
    state).  This is the canonical "enrich events with a dimension" shape;
    at scale the dim is a warehouse table and the broadcast threshold /
    AQE governs the join strategy per batch.
    """
    from pyspark.sql import functions as F

    stream = _event_stream(spark, events_path, watermark)
    joined = stream.join(F.broadcast(dim), on)
    agg = (
        joined.groupBy(F.window("ts", width), F.col(dim_attr))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), dim_attr, "n")
    )
    return _start_memory_sink(agg, queryName, checkpoint)


def stream_purchase_view_join(
    spark: SparkSession,
    events_path: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
    queryName: str = "pq_stream_ssjoin",
):
    """Stream-stream interval join: each purchase joined to the same
    user's views in the preceding `within` (attribution join).

    Both sides carry watermarks and the join predicate bounds event time
    on BOTH streams, so Spark can expire join state — the two conditions
    that make an unbounded stream-stream join feasible: state is O(users
    active within watermark+interval), not O(stream).  Batch twin: the
    same join expression on the static frame (equivalence is tested).
    """
    views = (
        _event_stream(spark, events_path, None)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("event_id").alias("view_id"))
    ).withWatermark("v_ts", watermark)
    purchases = (
        _event_stream(spark, events_path, None)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
                F.col("value").alias("purchase_value"))
    ).withWatermark("p_ts", watermark)
    joined = purchases.join(
        views,
        F.expr(f"""
            p_user = v_user AND
            v_ts >= p_ts - INTERVAL {within} AND
            v_ts <= p_ts
        """),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
    return _start_memory_sink(joined, queryName, checkpoint)


def purchase_view_join_batch(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Batch twin of stream_purchase_view_join (same predicate, static)."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"))
    return purchases.join(
        views,
        F.expr(f"p_user = v_user AND v_ts >= p_ts - INTERVAL {within} "
               "AND v_ts <= p_ts"),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
