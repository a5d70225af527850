"""Windowed aggregation builders shared by batch and streaming.

Each builder takes an events-shaped DataFrame (``ts timestamp,
event_type string, user_id long, value double, ...``) that may be a
batch relation or a streaming relation — the logical plan is
identical; only the sink differs. Batch `plans/time_queries.py`
queries call the same functions, which is what makes the streaming
twins testable by equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# How late an event may arrive, in event time, and still count: the
# state bound of every stateful builder below.
WATERMARK = "2 hours"
# How long a drain of all available input may take before it is an error.
DRAIN_TIMEOUT_S = 120.0


def _with_watermark(df: DataFrame, watermark: str) -> DataFrame:
    """Watermarks only apply to streaming relations; on batch input they
    are a no-op guard so one builder serves both modes."""
    if df.isStreaming:
        return df.withWatermark("ts", watermark)
    return df


def tumbling_agg(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Hourly tumbling window per event_type: count + rounded value
    sum. Epoch-aligned windows, so batch output equals date_trunc
    semantics."""
    df = _with_watermark(events, watermark)
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding window counts: 30-minute windows every 10 minutes, so
    each event lands in 3 windows."""
    df = _with_watermark(events, WATERMARK)
    return (
        df.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("win_start_s"), "n")
    )


def session_window_stats(events: DataFrame) -> DataFrame:
    """Native session windows (`F.session_window`) per user: a session
    extends while successive events arrive within a 30-minute gap.

    Boundary semantics vs the batch lag-based sessionize
    (operators/sessionize.py): an event exactly one gap after the
    previous one starts a NEW session here (windows are half-open
    [start, last+gap)), while the batch form keeps it (`> gap` test) —
    equivalence holds for data without exact-boundary gaps.
    """
    df = _with_watermark(events, WATERMARK)
    return (
        df.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful streaming dedup with bounded state:
    `dropDuplicatesWithinWatermark` expires dedup state past the
    watermark — the only dedup form whose state survives an unbounded
    stream. Batch input falls back to plain dropDuplicates. The two
    agree exactly only when every duplicate pair arrives within the
    watermark of each other: wider-spaced repeats are re-emitted by
    the stream (its state for the key has expired — the price of
    bounded state) but collapsed by the batch form."""
    if events.isStreaming:
        return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def attribute_conversions(
    clicks: DataFrame,
    conversions: DataFrame,
    horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: attribute each conversion to every
    click by the same user within `horizon` BEFORE it. The equality
    conjunct on `user_id` keeps the join hash-partitioned; the event-time
    band both bounds the physical join AND (with the two watermarks)
    lets the state store expire rows — the pair of constraints that
    makes an unbounded stream⋈stream join run in finite state. Inner
    stream-stream joins emit in append mode as matches arrive. Batch
    inputs run the identical plan as a normal interval equi-join.

    ``how="left_outer"`` additionally emits never-converted clicks
    with a NULL conv_ts — but NOT when the click's horizon passes on
    the wall clock: a null-side row emits only once the query's GLOBAL
    watermark (the MIN over both inputs under the default
    multipleWatermarkPolicy — a stalled side stalls expiry for both)
    clears click_ts + horizon + watermark, and state eviction runs at
    a micro-batch boundary using the previous batch's watermark.
    Incremental availableNow pipelines therefore see unmatched rows up
    to one data-carrying run late (exactly when depends on how the
    source packs files into micro-batches); tests/test_streaming.py
    pins the choreography."""
    c = _with_watermark(clicks, WATERMARK).select(
        F.col("user_id").alias("c_key"), F.col("ts").alias("click_ts")
    )
    v = _with_watermark(conversions, WATERMARK).select(
        F.col("user_id").alias("v_key"), F.col("ts").alias("conv_ts")
    )
    cond = (
        (F.col("c_key") == F.col("v_key"))
        & (F.col("click_ts") <= F.col("conv_ts"))
        & (F.col("click_ts") >= F.col("conv_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(v, cond, how).select(
        F.col("c_key").alias("user_id"), "click_ts", "conv_ts"
    )


def run_available_now_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> None:
    """Execute a streaming plan over all currently-available input
    (Trigger.AvailableNow) into an in-memory table named `query_name`,
    blocking until the stream drains. The incremental-batch analog of
    the reference's daily catchup=False schedule (reference:
    dags/etl.py:152-154)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(DRAIN_TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"streaming query {query_name!r} did not drain in {DRAIN_TIMEOUT_S}s")
