"""Streaming distribution-drift monitor: windowed PSI vs a reference.

The production shape of the batch PSI gate (plans/dq_queries.py
``dq_psi_price_drift``): a live event stream is scored per event-time
window against a frozen reference histogram, so a reshaped value
distribution pages someone within a window of landing, not at the
next nightly batch.

Split deliberately into a STATEFUL stage and a STATELESS finisher:

- ``windowed_value_histogram`` is the only stateful streaming
  computation — one windowed aggregate (watermark-bounded state,
  map-side partial combine), emitting (window, bin, n) counts. The
  same function runs unmodified on a batch frame, which is what the
  stream-equals-batch equivalence test pins.
- ``psi_from_histogram`` is pure batch math over the tiny histogram
  table (windows × bins rows) — run it in ``foreachBatch``, on the
  sink table, or over the memory sink; there is no second stateful
  aggregate inside the stream (Structured Streaming forbids chained
  stateful aggs in append mode, and the finisher doesn't need one).

Integer determinism matches the batch gate: probabilities ship as
floor-ppm, the add-one-smoothed log-ratio floors to micro-nats per
bin, and each bin's PSI contribution is their exact integer product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_orders_spark.streaming.windows import WATERMARK, _with_watermark

# fixed-width bins of the ``value`` column; the last bin is open-ended
N_BINS = 8


def windowed_value_histogram(
    events: DataFrame,
    bin_width: float = 5.0,
    window: str = "1 hour",
) -> DataFrame:
    """Per event-time window, the histogram of ``value`` over
    ``N_BINS`` fixed-width bins (last bin is open-ended). Works on a
    stream (watermarked, append-legal) and on a batch frame
    identically — the equivalence test runs both."""
    df = _with_watermark(events, WATERMARK)
    # clamp BOTH ends: floor of a negative value would otherwise emit
    # bin < 0 — mass the bin spine never sees, counted in the live
    # total but dropped from the reference's, biasing PSI upward
    bin_col = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor(F.col("value") / F.lit(bin_width)).cast("long"),
            F.lit(N_BINS - 1),
        ),
    )
    return (
        df.groupBy(F.window("ts", window).alias("win"), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("win.start").alias("win_start"), "bin", "n")
    )


def reference_histogram_ppm(reference_events: DataFrame, bin_width: float = 5.0) -> DataFrame:
    """Freeze a reference period into per-bin floor-ppm shares with
    add-one smoothing — the broadcast-size model table (N_BINS rows)
    every live window compares against."""
    # clamp BOTH ends: floor of a negative value would otherwise emit
    # bin < 0 — mass the bin spine never sees, counted in the live
    # total but dropped from the reference's, biasing PSI upward
    bin_col = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor(F.col("value") / F.lit(bin_width)).cast("long"),
            F.lit(N_BINS - 1),
        ),
    )
    counts = reference_events.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ref")
    )
    # make every bin present so an empty live bin still scores
    spine = reference_events.sparkSession.range(N_BINS).select(
        F.col("id").cast("long").alias("bin")
    )
    counts = spine.join(counts, "bin", "left").fillna(0, subset=["n_ref"])
    tot = counts.agg(F.sum("n_ref").cast("long").alias("t_ref"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "t_ref",
        F.expr(f"(n_ref + 1) * 1000000 div (t_ref + {N_BINS})").cast("long").alias("p_ppm"),
    )


def psi_from_histogram(hist: DataFrame, reference_ppm: DataFrame) -> DataFrame:
    """Stateless finisher: join each window's histogram to the frozen
    reference and emit per-(window, bin) PSI contributions plus the
    per-window total — all exact integer math (ppm × micro-nats =
    pico units). The reference broadcasts (N_BINS rows); per-window
    totals come from a window-keyed COUNT window over the histogram
    itself (windows × bins rows — trivially small)."""
    # Three Spark sharp edges shape this function:
    # 1. hist feeds BOTH the per-window totals and the fan-out join —
    #    batch callers pass a lazy plan whose event scan would run
    #    twice, so it materializes (windows x bins, calendar-bounded);
    #    a memory-sink/foreachBatch table re-materializes cheaply.
    # 2. The bin spine is a FRESH range, not the reference's own
    #    lineage — reusing it and joining the reference again trips
    #    Spark's conflicting-reference check on self-referenced plans.
    # 3. Aliased group keys (_ws/_bin) force fresh attribute ids: a
    #    memory-sink view hands out IDENTICAL exprIds on every
    #    reference, so a natural-key self-join fails resolution.
    if not hist.isStreaming:
        hist = hist.localCheckpoint(eager=True)
    tot = hist.groupBy(F.col("win_start").alias("_ws")).agg(
        F.sum("n").cast("long").alias("t_cur")
    )
    bins = hist.sparkSession.range(N_BINS).select(F.col("id").cast("long").alias("_bin"))
    full = (
        tot.crossJoin(F.broadcast(bins))
        .join(
            hist,
            (F.col("_ws") == F.col("win_start")) & (F.col("_bin") == F.col("bin")),
            "left",
        )
        .select(
            F.col("_ws").alias("win_start"),
            F.col("_bin").alias("bin"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            "t_cur",
        )
    )
    m = full.join(F.broadcast(reference_ppm.select("bin", "n_ref", "t_ref", "p_ppm")), "bin").select(
        "win_start",
        "bin",
        F.col("n").alias("n_cur"),
        "p_ppm",
        F.expr(f"(n + 1) * 1000000 div (t_cur + {N_BINS})").cast("long").alias("q_ppm"),
        F.floor(
            F.log(
                ((F.col("n_ref") + 1) * (F.col("t_cur") + N_BINS)).cast("double")
                / ((F.col("n") + 1) * (F.col("t_ref") + N_BINS)).cast("double")
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lr_micro"),
    )
    scored = m.withColumn(
        "psi_pico", ((F.col("p_ppm") - F.col("q_ppm")) * F.col("lr_micro")).cast("long")
    )
    return scored.withColumn(
        "window_psi_pico", F.sum("psi_pico").over(Window.partitionBy("win_start"))
    )
