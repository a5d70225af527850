"""Batch sessionization: gap-based session windows as window functions.

The classic composition (lag → gap flag → running sum = session id)
shuffles once on the entity key and sorts within partitions — the same
cost profile as any keyed window at 100 TB. The streaming twin is
`F.session_window` (see streaming module); this batch form is
SQL-expressible and therefore oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# a session ends after a gap of more than 30 minutes (exact integer ms)
SESSION_GAP_MS = 30 * 60_000


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    tie_break: str,
) -> DataFrame:
    """Assign a session index per `key`: a new session starts when the
    gap from the previous event exceeds `SESSION_GAP_MS`. Millisecond
    precision (exact integer math; no float epoch drift across engines).

    Output: input columns + `session_idx` (1-based per key).
    """
    w = Window.partitionBy(key).orderBy(ts, tie_break)
    prev_ms = F.lag(F.unix_millis(F.col(ts))).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((F.unix_millis(F.col(ts)) - prev_ms) > SESSION_GAP_MS), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(key).orderBy(ts, tie_break).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_idx", F.sum(is_new).over(running).cast("long"))


def session_stats(
    df: DataFrame,
    key: str,
    ts: str,
    tie_break: str,
) -> DataFrame:
    """Collapse sessions to one row each: start/end/duration/event count."""
    s = sessionize(df, key, ts, tie_break)
    return s.groupBy(key, "session_idx").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_millis(F.max(ts)) - F.unix_millis(F.min(ts))).alias("duration_ms"),
    )
