"""Streaming twins: Trigger.AvailableNow round-trips must equal the
batch forms of the same builders (SURVEY.md §2.5 phase 7)."""

from __future__ import annotations

from datetime import datetime

import pytest

from etl_orders_spark.streaming import (
    dedup_within_watermark,
    run_available_now_to_memory,
    session_window_stats,
    sliding_counts,
    tumbling_agg,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


ROWS = [
    (1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
    (2, ts("2024-01-01 10:15:00"), 1, "click", 2.0),
    (3, ts("2024-01-01 11:05:00"), 1, "view", 3.0),
    (4, ts("2024-01-01 10:20:00"), 2, "click", 4.0),
    (5, ts("2024-01-01 12:50:00"), 2, "view", 5.0),
    (5, ts("2024-01-01 12:50:00"), 2, "view", 5.0),  # duplicate event_id
]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events_stream") / "events")
    spark.createDataFrame(ROWS, SCHEMA).write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="module")
def batch_events(spark, events_dir):
    return spark.read.schema(SCHEMA).parquet(events_dir)


@pytest.fixture(scope="module")
def stream_events(spark, events_dir):
    df = spark.readStream.schema(SCHEMA).parquet(events_dir)
    assert df.isStreaming
    return df


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, batch_events, stream_events):
    run_available_now_to_memory(tumbling_agg(stream_events), "t_tumbling")
    got = _rows(spark.table("t_tumbling"), "win_start", "event_type", "n", "total_value")
    want = _rows(tumbling_agg(batch_events), "win_start", "event_type", "n", "total_value")
    assert got == want and len(want) >= 3


def test_sliding_stream_equals_batch(spark, batch_events, stream_events):
    run_available_now_to_memory(sliding_counts(stream_events), "t_sliding")
    got = _rows(spark.table("t_sliding"), "win_start_s", "n")
    want = _rows(sliding_counts(batch_events), "win_start_s", "n")
    assert got == want
    # 30min/10min: every event is in exactly 3 windows
    assert sum(n for _, n in want) == 3 * len(ROWS)


def test_session_window_stream_equals_batch(spark, batch_events, stream_events):
    run_available_now_to_memory(session_window_stats(stream_events), "t_session")
    got = _rows(spark.table("t_session"), "user_id", "session_start", "session_end", "n_events")
    want = _rows(session_window_stats(batch_events), "user_id", "session_start", "session_end", "n_events")
    assert got == want
    # user 1: events at 10:05/10:15 merge (gap 10m < 30m), 11:05 starts anew
    by_user = [r for r in want if r[0] == 1]
    assert [r[3] for r in by_user] == [2, 1]


def test_watermark_drops_late_data_across_restarts(spark, tmp_path_factory):
    """Late-data semantics end-to-end: an event arriving behind the
    watermark is dropped from an already-finalized window. Two
    checkpointed AvailableNow runs guarantee batch order."""
    root = tmp_path_factory.mktemp("late")
    src = str(root / "src")
    out = str(root / "out")
    ckpt = str(root / "ckpt")

    def run(batch_rows):
        spark.createDataFrame(batch_rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        agg = tumbling_agg(stream, watermark="30 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return {(r["win_start"], r["n"]) for r in spark.read.parquet(out).collect()}

    batch1 = [
        (1, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        (2, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
        (3, ts("2024-01-01 12:00:00"), 1, "click", 1.0),  # advances watermark to 11:30
    ]
    t1 = run(batch1)
    # the 10:00 window (end 11:00 <= watermark 11:30) finalized with both events
    assert (ts("2024-01-01 10:00:00"), 2) in t1

    batch2 = [
        (4, ts("2024-01-01 10:30:00"), 1, "click", 1.0),  # LATE: behind the 11:30 watermark
        (5, ts("2024-01-01 13:10:00"), 1, "click", 1.0),  # advances watermark past 12:00
    ]
    t2 = run(batch2)
    # the late event must NOT resurrect the finalized 10:00 window with a new count
    assert (ts("2024-01-01 10:00:00"), 1) not in t2 and (ts("2024-01-01 10:00:00"), 3) not in t2

    # append-mode emission lags one batch behind the watermark advance:
    # a third batch flushes the now-closed 12:00 window
    t3 = run([(6, ts("2024-01-01 15:00:00"), 1, "click", 1.0)])
    assert (ts("2024-01-01 12:00:00"), 1) in t3  # only the on-time event; late one dropped
    assert (ts("2024-01-01 10:00:00"), 2) in t3  # original window untouched
    assert (ts("2024-01-01 10:00:00"), 3) not in t3


def test_stream_real_events_table(spark, sf_dir):
    """The driver's actual events.parquet as a streaming source: the
    footer-sniffed ts dispatch (NANOS long + ns→µs conversion vs native
    MICROS) works under readStream too, and the streamed tumbling
    aggregate equals the batch query."""
    from etl_orders_spark.sources.readers import load_events_stream, load_table

    stream = load_events_stream(spark, sf_dir)
    assert stream.isStreaming
    run_available_now_to_memory(tumbling_agg(stream), "t_real_events")
    got = _rows(spark.table("t_real_events"), "win_start", "event_type", "n")
    want = _rows(tumbling_agg(load_table(spark, sf_dir, "events")), "win_start", "event_type", "n")
    assert got == want and len(want) > 0


def test_stream_static_dimension_join(spark, stream_events, batch_events):
    """Stream-static enrichment: a streaming fact joined to a static
    dimension (per-batch broadcast lookup — the streaming form of the
    reference's user-enrichment join)."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], "uid long, tier string")
    enriched = stream_events.join(F.broadcast(dim), stream_events.user_id == dim.uid).groupBy(
        "tier"
    ).agg(F.count(F.lit(1)).alias("n"))
    run_available_now_to_memory(enriched, "t_enrich")
    got = {r["tier"]: r["n"] for r in spark.table("t_enrich").collect()}
    want = {
        r["tier"]: r["n"]
        for r in batch_events.join(dim, batch_events.user_id == dim.uid)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and set(got) == {"gold", "basic"}


def test_upsert_parquet_sink_across_runs(spark, tmp_path_factory):
    """Streaming upsert materialization: later batches replace rows by
    key; the serving table converges across restarts."""
    from etl_orders_spark.streaming.sinks import upsert_parquet_sink

    root = tmp_path_factory.mktemp("upsert")
    src = str(root / "src")
    out = str(root / "table")
    ckpt = str(root / "ckpt")
    schema = "id long, v string, ts timestamp"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        upsert_parquet_sink(stream, out, ["id"], ckpt)
        return {r["id"]: r["v"] for r in spark.read.parquet(out).collect()}

    t1 = run([(1, "a", ts("2024-01-01 10:00:00")), (2, "b", ts("2024-01-01 10:01:00"))])
    assert t1 == {1: "a", 2: "b"}
    t2 = run([(2, "B!", ts("2024-01-01 11:00:00")), (3, "c", ts("2024-01-01 11:01:00"))])
    assert t2 == {1: "a", 2: "B!", 3: "c"}


def test_upsert_sink_recovers_interrupted_swap(spark, tmp_path_factory):
    """Crash-recovery protocol: a crash between the sink's two swap
    renames leaves the whole table at `.retired` with no serving path —
    the next batch must restore it before merging, or every key absent
    from that batch is silently lost. And a leftover `.retired` BESIDE
    a serving path (crash mid-cleanup) must be dropped up front, or
    `os.rename(path, retired)` wedges every subsequent batch with
    ENOTEMPTY."""
    import os
    import shutil

    from etl_orders_spark.streaming.sinks import upsert_parquet_sink

    root = tmp_path_factory.mktemp("upsert_recovery")
    src, out, ckpt = str(root / "src"), str(root / "table"), str(root / "ckpt")
    schema = "id long, v string, ts timestamp"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        upsert_parquet_sink(stream, out, ["id"], ckpt)
        return {r["id"]: r["v"] for r in spark.read.parquet(out).collect()}

    assert run([(1, "a", ts("2024-01-01 10:00:00")), (2, "b", ts("2024-01-01 10:01:00"))]) == {
        1: "a",
        2: "b",
    }
    # crash between rename(path, retired) and rename(staging, path):
    # the authoritative table sits at .retired, serving path is gone
    os.rename(out, out + ".retired")
    assert run([(3, "c", ts("2024-01-01 11:00:00"))]) == {1: "a", 2: "b", 3: "c"}
    # crash after the swap but mid-cleanup: stale .retired beside path
    shutil.copytree(out, out + ".retired")
    assert run([(4, "d", ts("2024-01-01 12:00:00"))]) == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert not os.path.exists(out + ".retired")


def test_upsert_sink_seq_col_collapses_within_batch_dups(spark, tmp_path_factory):
    """availableNow backlogs deliver several updates for one key in a
    single micro-batch: with seq_col the sink keeps the max-(seq,
    tiebreak) row deterministically; without it the batch is rejected
    (an arbitrary survivor would make checkpoint replay
    nondeterministic)."""
    from etl_orders_spark.streaming.sinks import upsert_parquet_sink

    root = tmp_path_factory.mktemp("upsert_seq")
    schema = "id long, v string, ts timestamp"
    rows = [
        (1, "old", ts("2024-01-01 10:00:00")),
        (1, "new", ts("2024-01-01 11:00:00")),
        (2, "only", ts("2024-01-01 10:30:00")),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(root / "src"))
    stream = spark.readStream.schema(schema).parquet(str(root / "src"))
    upsert_parquet_sink(
        stream, str(root / "t1"), ["id"], str(root / "c1"), seq_col="ts"
    )
    got = {r["id"]: r["v"] for r in spark.read.parquet(str(root / "t1")).collect()}
    assert got == {1: "new", 2: "only"}

    stream2 = spark.readStream.schema(schema).parquet(str(root / "src"))
    with pytest.raises(Exception, match="multiple rows"):
        upsert_parquet_sink(stream2, str(root / "t2"), ["id"], str(root / "c2"))


def test_dedup_within_watermark_stream(spark, stream_events, batch_events):
    run_available_now_to_memory(
        dedup_within_watermark(stream_events, ["event_id"]), "t_dedup", output_mode="append"
    )
    assert spark.table("t_dedup").count() == 5  # 6 rows, one duplicate id
    assert dedup_within_watermark(batch_events, ["event_id"]).count() == 5


def test_stream_stream_interval_join_equals_batch(spark, batch_events, stream_events):
    """Stream⋈stream attribution: clicks joined to later views by the
    same user within 1 hour, both sides watermarked — must equal the
    identical interval join run in batch. (user 1's 11:05 view matches
    both its 10:05 and 10:15 clicks — the 10:05 one exactly at the 1h
    boundary; user 2's view is 2.5h after its click and the duplicated
    copy of it is equally out of horizon, so neither emits.)"""
    from etl_orders_spark.streaming import attribute_conversions

    def split(df):
        return (
            df.filter(df.event_type == "click"),
            df.filter(df.event_type == "view"),
        )

    run_available_now_to_memory(
        attribute_conversions(*split(stream_events)), "t_attr", output_mode="append"
    )
    got = _rows(spark.table("t_attr"), "user_id", "click_ts", "conv_ts")
    want = _rows(attribute_conversions(*split(batch_events)), "user_id", "click_ts", "conv_ts")
    assert got == want
    assert len(got) == 2  # user 1's two clicks; the exact-1h one is kept


def test_psi_drift_stream_equals_batch_and_flags_shift(spark, tmp_path_factory):
    """The streaming drift monitor: (a) the windowed histogram is
    stream/batch-equivalent under AvailableNow, (b) a window drawn
    from the reference distribution scores ~zero PSI while a shifted
    window scores strictly higher."""
    from etl_orders_spark.streaming.drift import (
        psi_from_histogram,
        reference_histogram_ppm,
        windowed_value_histogram,
    )

    # reference: values uniform over bins 0..3; live hour 1 matches it,
    # live hour 2 is shifted mass into the top bin
    ref_rows = [(i, ts("2024-01-01 00:00:00"), 1, "x", float(v)) for i, v in enumerate(
        [2.0, 7.0, 12.0, 17.0] * 10
    )]
    live_rows = [
        (100 + i, ts("2024-01-01 10:05:00"), 1, "x", float(v))
        for i, v in enumerate([2.0, 7.0, 12.0, 17.0] * 5)
    ] + [
        (200 + i, ts("2024-01-01 11:05:00"), 1, "x", 38.0) for i in range(20)
    ]
    ref = spark.createDataFrame(ref_rows, SCHEMA)
    p = str(tmp_path_factory.mktemp("drift_stream") / "events")
    spark.createDataFrame(live_rows, SCHEMA).write.mode("overwrite").parquet(p)

    batch = spark.read.schema(SCHEMA).parquet(p)
    stream = spark.readStream.schema(SCHEMA).parquet(p)
    # complete mode: with AvailableNow the final watermark still trails
    # the last window's end, so append would (correctly) hold results
    # back for late data; complete emits the full state for the compare
    run_available_now_to_memory(windowed_value_histogram(stream), "t_drift_hist")
    got = _rows(spark.table("t_drift_hist"), "win_start", "bin", "n")
    want = _rows(windowed_value_histogram(batch), "win_start", "bin", "n")
    assert got == want and got  # stream == batch, non-empty

    reference = reference_histogram_ppm(ref)
    scored = psi_from_histogram(spark.table("t_drift_hist"), reference)
    per_win = {
        r.win_start: r.window_psi_pico
        for r in scored.select("win_start", "window_psi_pico").distinct().collect()
    }
    assert len(per_win) == 2
    calm, shifted = sorted(per_win.items())
    assert shifted[1] > calm[1] > -1  # shifted hour drifts far more
    assert shifted[1] > 10 * max(calm[1], 1)  # and decisively so


def test_stream_stream_left_outer_emission_choreography(spark, tmp_path):
    """Outer stream-stream joins have a three-act emission protocol
    that silently eats unmatched rows if misunderstood; pin it.

    Act 1: inner matches emit immediately; the never-converted click
    does NOT (no event is anywhere near its expiry bound, so no
    micro-batch packing can evict it yet).
    Act 2: later events land on BOTH inputs (the global watermark is
    the MIN across inputs — advancing only one side expires nothing),
    moving the watermark far past the click's horizon. The NULL row
    may emit now or one run later: eviction runs at micro-batch
    boundaries with the PREVIOUS batch's watermark, and availableNow
    may pack the landed files into one batch or several.
    Act 3: after one more data-carrying run the unmatched click has
    emitted with NULL conv_ts — exactly once, never duplicated by the
    checkpoint restarts.
    """
    from etl_orders_spark.streaming import attribute_conversions

    src = str(tmp_path / "events")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def land(rows):
        spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(src)

    def run_and_read():
        s = spark.readStream.schema(SCHEMA).parquet(src)
        j = attribute_conversions(
            s.filter(s.event_type == "click"),
            s.filter(s.event_type == "view"),
            how="left_outer",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return sorted(
            (r["user_id"], r["conv_ts"] is None)
            for r in spark.read.parquet(out).collect()
        )

    land(
        [
            (1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
            (3, ts("2024-01-01 10:35:00"), 1, "view", 3.0),
            (4, ts("2024-01-01 10:20:00"), 2, "click", 4.0),  # never converts
        ]
    )
    assert run_and_read() == [(1, False)]  # act 1: match only
    land(
        [
            (8, ts("2024-01-02 09:00:00"), 8, "click", 0.0),
            (9, ts("2024-01-02 09:00:00"), 9, "view", 0.0),
        ]
    )
    act2 = run_and_read()  # act 2: watermark moved; eviction timing may lag a run
    assert (1, False) in act2 and act2.count((2, True)) <= 1
    land(
        [
            (10, ts("2024-01-02 12:00:00"), 8, "click", 0.0),
            (11, ts("2024-01-02 12:00:00"), 9, "view", 0.0),
        ]
    )
    got = run_and_read()  # act 3: the NULL row has landed, exactly once
    assert got.count((2, True)) == 1
    assert (1, False) in got


def test_first_seen_dedup_state_spans_micro_batches(spark, tmp_path_factory):
    """Streaming first-seen exact dedup (round 10): the state store
    remembers fingerprints across micro-batches, so a duplicate
    arriving in a LATER batch is suppressed — the case
    dropDuplicatesWithinWatermark cannot cover once the watermark
    passes. Batches are forced distinct via maxFilesPerTrigger=1; the
    stream's output must equal the batch fallback's groupBy-min."""
    import pyspark.sql.functions as F

    from etl_orders_spark.streaming import first_seen_dedup

    schema = "fp string, doc_id long, first_ts timestamp"
    base = str(tmp_path_factory.mktemp("fsd") / "docs")
    b1 = [
        ("a", 10, ts("2024-01-01 10:00:00")),
        ("a", 9, ts("2024-01-01 10:00:00")),  # same ts: doc_id breaks the tie
        ("b", 20, ts("2024-01-01 10:01:00")),
    ]
    b2 = [
        ("a", 1, ts("2024-01-02 09:00:00")),  # next-day duplicate: must suppress
        ("c", 30, ts("2024-01-02 09:05:00")),
        ("b", 2, ts("2024-01-02 09:06:00")),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(base + "/f1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(base + "/f2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/f*")
    )
    run_available_now_to_memory(
        first_seen_dedup(stream), "t_first_seen", output_mode="append"
    )
    got = _rows(spark.table("t_first_seen"), "fp", "doc_id", "first_ts")
    batch = spark.createDataFrame(b1 + b2, schema)
    want = _rows(first_seen_dedup(batch), "fp", "doc_id", "first_ts")
    assert got == want
    assert [(r[0], r[1]) for r in got] == [("a", 9), ("b", 20), ("c", 30)]


def test_first_seen_compaction_two_tier_restart(spark, tmp_path_factory):
    """The documented two-tier production shape is code (VERDICT r10
    watch #3): phase-1 stream emits canonicals, compaction folds them
    into the versioned parquet fingerprint index, and a RESTARTED
    stream (fresh checkpoint, empty state store) probing the index
    suppresses pre-compaction duplicates it has never seen — while a
    restart WITHOUT the index re-emits them (the failure mode the
    tier exists to close). Re-compaction is idempotent and keeps the
    batch-min canonical per fingerprint."""
    from etl_orders_spark.operators.merge import read_published
    from etl_orders_spark.streaming.stateful import (
        compact_fingerprint_index,
        first_seen_dedup_with_index,
    )

    schema = "fp string, doc_id long, first_ts timestamp"
    root = tmp_path_factory.mktemp("fsd2")
    base, index_root = str(root / "docs"), str(root / "fp_index")
    b1 = [
        ("a", 10, ts("2024-01-01 10:00:00")),
        ("a", 9, ts("2024-01-01 10:00:00")),
        ("b", 20, ts("2024-01-01 10:01:00")),
    ]
    b2 = [
        ("a", 1, ts("2024-01-02 09:00:00")),  # pre-compaction dup
        ("b", 2, ts("2024-01-02 09:01:00")),  # pre-compaction dup
        ("c", 30, ts("2024-01-02 09:05:00")),
        ("c", 31, ts("2024-01-02 09:05:00")),  # in-phase dup: tier-1 state
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(base + "/f1")
    # phase 1: tier-1 only (no index yet), then compact its output
    s1 = spark.readStream.schema(schema).parquet(base + "/f1")
    run_available_now_to_memory(
        first_seen_dedup_with_index(s1, None), "t_fsc1", output_mode="append"
    )
    emitted1 = spark.table("t_fsc1")
    assert _rows(emitted1, "fp", "doc_id") == [("a", 9), ("b", 20)]
    compact_fingerprint_index(emitted1, index_root)

    # phase 2: restarted stream (fresh state) over NEW files only
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(base + "/f2")
    s2 = spark.readStream.schema(schema).parquet(base + "/f2")
    run_available_now_to_memory(
        first_seen_dedup_with_index(s2, read_published(spark, index_root)),
        "t_fsc2",
        output_mode="append",
    )
    assert _rows(spark.table("t_fsc2"), "fp", "doc_id") == [("c", 30)]

    # control: the SAME restart without the index re-emits a and b
    s2b = spark.readStream.schema(schema).parquet(base + "/f2")
    run_available_now_to_memory(
        first_seen_dedup_with_index(s2b, None), "t_fsc2_noidx", output_mode="append"
    )
    assert _rows(spark.table("t_fsc2_noidx"), "fp", "doc_id") == [
        ("a", 1),
        ("b", 2),
        ("c", 30),
    ]

    # fold phase-2 output in; re-compact phase-1 rows too (idempotent)
    compact_fingerprint_index(spark.table("t_fsc2"), index_root)
    compact_fingerprint_index(emitted1, index_root)
    idx = read_published(spark, index_root)
    assert _rows(idx, "fp", "doc_id") == [("a", 9), ("b", 20), ("c", 30)]
