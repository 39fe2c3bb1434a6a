"""Streaming-ready aggregations over the ``events`` table shape
``(event_id, ts, user_id, event_type, value, props)``.

Each transform is written against a plain DataFrame, so the SAME function
body serves batch (``spark.read``) and streaming (``spark.readStream``)
inputs — the Structured Streaming contract. Watermarks are applied only
when the input is streaming (``df.isStreaming``), since batch DataFrames
reject them.

Scale notes: tumbling-window + keyed aggregation is the canonical
shuffle-once streaming plan; state size is bounded by (windows in
watermark horizon × event types). ``sessionize`` uses
``applyInPandasWithState``-free session windows (``F.session_window``),
Spark's native state implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.functions.timeutil import ensure_event_time, epoch_us


def windowed_event_counts(
    df: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window counts/sums per event type:
    ``(window_start, window_end, event_type, n_events, sum_value)``."""
    if df.isStreaming:
        df = ensure_event_time(df, "ts").withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
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


def write_events_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by_day: bool = True,
):
    """Streaming parquet sink: events land day-partitioned with
    exactly-once file-sink semantics (the checkpoint + manifest give
    idempotent restarts). Day partitioning makes downstream backfills
    and retention drops partition operations instead of rewrites — the
    standard 100 TB event-lake layout. Returns the StreamingQuery."""
    out = df.withColumn("day", F.date_format("ts", "yyyy-MM-dd")) if partition_by_day else df
    w = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by_day:
        w = w.partitionBy("day")
    return w.start()


def join_events_to_user_profile(
    events: DataFrame,
    profiles: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment join: each event picks up its user's
    profile row. The static side is broadcast per micro-batch — no
    stream state at all, the canonical enrichment topology (stream-stream
    joins are reserved for when BOTH sides are unbounded)."""
    ev = (
        ensure_event_time(events, "ts").withWatermark("ts", watermark)
        if events.isStreaming
        else events
    )
    return ev.join(F.broadcast(profiles), "user_id", "left")


def attribute_events(
    lead: DataFrame,
    follow: DataFrame,
    key: str = "user_id",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — attribution's canonical shape:
    every ``follow`` event pairs with each same-``key`` ``lead`` event
    it trails within ``horizon`` (``lead.ts <= follow.ts < lead.ts +
    horizon``). Returns ``(user_id, lead_id, follow_id, gap_sec)``.

    Both sides are unbounded, so this is the topology that genuinely
    needs a stream-stream join (enrichment against a bounded side
    should use :func:`join_events_to_user_profile` instead). With
    watermarks on BOTH inputs plus the event-time range condition,
    Spark bounds the join state to lead rows younger than
    ``watermark + horizon`` — without the time constraint the state
    would grow with stream lifetime, which is the classic unbounded
    stream-join mistake. Same body serves batch backfill (no
    watermarks; identical results on complete input — pinned in
    ``tests/test_streaming.py``).
    """
    if lead.isStreaming:
        lead = ensure_event_time(lead, "ts").withWatermark("ts", watermark)
    if follow.isStreaming:
        follow = ensure_event_time(follow, "ts").withWatermark("ts", watermark)
    l = lead.select(
        F.col(key).alias("user_id"),
        F.col("event_id").alias("lead_id"),
        F.col("ts").alias("lead_ts"),
    )
    r = follow.select(
        F.col(key).alias("r_user_id"),
        F.col("event_id").alias("follow_id"),
        F.col("ts").alias("follow_ts"),
    )
    j = l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("follow_ts") >= F.col("lead_ts"))
        & (F.col("follow_ts") < F.col("lead_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return j.select(
        "user_id",
        "lead_id",
        "follow_id",
        (epoch_us(j, "follow_ts") - epoch_us(j, "lead_ts")).alias("gap_us"),
    )


def dedup_events(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event ingestion: drop duplicate ``event_id``s.

    Streaming input uses ``dropDuplicatesWithinWatermark`` — state holds
    only ids younger than the watermark horizon, so state size is
    bounded by (event rate × watermark), not by stream lifetime: the
    property that makes streaming dedup viable at 100 TB/day. Batch
    input takes the plain ``dropDuplicates`` (one shuffle on the id).
    """
    if df.isStreaming:
        df = ensure_event_time(df, "ts")
        return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return df.dropDuplicates(["event_id"])


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows per user: ``(user_id, session_start, session_end,
    n_events, sum_value)`` with a ``gap`` inactivity timeout."""
    if df.isStreaming:
        df = ensure_event_time(df, "ts").withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def upsert_materialized_view(
    stream: DataFrame,
    view_path: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] = [],
):
    """Incremental materialized view by per-batch MERGE: each
    micro-batch is compacted to latest-per-key
    (:func:`~spark_ifs_spark.operators.topk.compact_latest`) and merged
    into the parquet view — existing keys are replaced when the batch
    carries a strictly newer ``(order, tiebreaks)`` version, new keys
    are inserted, untouched keys are carried over. ``foreachBatch``
    because the file sink alone can only append: upsert needs a
    read-modify-write, and the batch hook is Structured Streaming's
    sanctioned way to run one (with the batch id available for
    idempotence — a replayed batch merges to the same state, so
    restarts are safe even though the write itself is not
    transactional the way a table format's would be).

    Scale shape: per batch, ONE compaction aggregate over the (small)
    batch + one key-keyed merge join against the view. The merge
    rewrites the view — at 100 TB the view is key-partitioned or
    bucketed so the join is Exchange-free and only touched partitions
    rewrite (`sources/sinks.py:write_bucketed` is that layout; a table
    format with MERGE INTO — Delta/Iceberg — drops in here verbatim).
    State never lives in the stream: the view IS the state, so a
    restart resumes from the checkpoint with zero state-store recovery.

    Returns the StreamingQuery.
    """
    from spark_ifs_spark.operators.topk import compact_latest

    spark = stream.sparkSession
    cols = stream.columns

    def _merge(batch: DataFrame, batch_id: int) -> None:
        latest = compact_latest(batch, key_cols, order_col, tiebreak_cols)
        try:
            view = spark.read.parquet(view_path)
            existing = True
        except Exception:
            existing = False
        if existing:
            merged = compact_latest(
                view.select(*cols).unionByName(latest.select(*cols)),
                key_cols,
                order_col,
                tiebreak_cols,
            )
        else:
            merged = latest
        # materialize BEFORE overwrite: the plan reads the same files
        # the write replaces
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(view_path)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

