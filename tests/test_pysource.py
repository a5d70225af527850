"""The Python DataSource V2 firehose (sources/pysource.py):
registration, determinism across partitioning, and plugging into the
events operators."""

from __future__ import annotations

import pytest

from etl_orders_spark.sources.pysource import register_synthetic_events, synth_event


@pytest.fixture(scope="module")
def synth(spark):
    register_synthetic_events(spark)
    return spark


def _read(spark, **opts):
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_requested_rows_with_unique_ids(synth):
    df = _read(synth, rows=500, numPartitions=4)
    assert df.count() == 500
    assert df.select("event_id").distinct().count() == 500
    assert df.rdd.getNumPartitions() == 4
    types = {r["event_type"] for r in df.select("event_type").distinct().collect()}
    assert types <= {"click", "view", "purchase", "refund"}


def test_rows_are_pure_functions_of_index_not_partitioning(synth):
    """The partition-seeded-rand trap, inverted: ANY partition count
    must yield byte-identical rows because each row derives from its
    global index alone."""
    a = sorted(map(tuple, _read(synth, rows=300, numPartitions=2).collect()))
    b = sorted(map(tuple, _read(synth, rows=300, numPartitions=7).collect()))
    assert a == b
    # and the first row matches the driver-side pure function
    assert a[0] == synth_event(0, seed=7, users=100, span_days=30)


def test_firehose_feeds_the_events_operators(synth):
    """The source is a drop-in events table: the sessionize operator
    runs on it unchanged."""
    from etl_orders_spark.operators.sessionize import sessionize

    df = _read(synth, rows=2000, numPartitions=8, users=20, spanDays=2)
    sessions = sessionize(df, key="user_id", ts="ts", tie_break="event_id")
    assert sessions.count() == 2000  # every event lands in a session
    assert "user_id" in sessions.columns


def test_firehose_streams_exactly_once_across_restart(synth, tmp_path):
    """The streaming half: offsets are row indexes, rows are pure
    functions of their index, so checkpoint recovery replays committed
    ranges bit-identically — exactly-once with no replay log. Two
    short runs against one checkpoint must extend the output without
    ever duplicating or skipping an event_id."""
    import time

    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run(seconds):
        q = (
            synth.readStream.format("synthetic_events")
            .option("rowsPerBatch", 50)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        time.sleep(seconds)
        q.stop()
        q.awaitTermination(60)

    run(8)
    df1 = synth.read.parquet(out)
    n1 = df1.count()
    assert n1 > 0 and n1 % 50 == 0
    assert df1.select("event_id").distinct().count() == n1
    run(6)
    df2 = synth.read.parquet(out)
    n2 = df2.count()
    assert n2 > n1  # the restart continued, it didn't start over
    assert df2.select("event_id").distinct().count() == n2  # no dupes
    # contiguous prefix: ids are exactly 0..n2-1 — nothing skipped
    lo, hi = df2.selectExpr("min(event_id)", "max(event_id)").collect()[0]
    assert (lo, hi) == (0, n2 - 1)


def test_firehose_to_windowed_merge_end_to_end(synth, tmp_path):
    """Integration across three engine layers: the Python stream source
    feeds a watermarked tumbling aggregate in update mode, each
    micro-batch merge-upserts into a keyed parquet serving table
    (operators/merge.merge_upsert — the sink pattern), and the final
    table must EXACTLY equal the same aggregate computed in batch over
    the processed prefix (rows 0..n-1 by the source's construction).
    The watermark is set beyond the data's time span so the randomly
    time-ordered firehose never drops a late row — making the
    stream/batch equality exact rather than approximate."""
    import time

    from pyspark.sql import functions as F

    from etl_orders_spark.operators.merge import (
        merge_upsert,
        publish_parquet_versioned,
        read_published,
    )

    ck = str(tmp_path / "ck")
    table = str(tmp_path / "serving")

    def apply_batch(batch, _id):
        if batch.isEmpty():
            return
        # atomic versioned publish: a q.stop() landing mid-write leaves
        # a dangling v_<n> dir and the pointer on the last good version
        # — a bare overwrite here loses the WHOLE table when killed
        # between its delete and its commit (observed in CI)
        target = read_published(batch.sparkSession, table)
        if target is not None:
            out = merge_upsert(target, batch, ["win_start", "event_type"]).localCheckpoint()
        else:
            out = batch
        publish_parquet_versioned(out, table)

    s = (
        synth.readStream.format("synthetic_events")
        .option("rowsPerBatch", 200)
        .option("users", 10)
        .option("spanDays", 2)
        .load()
    )
    agg = (
        s.withWatermark("ts", "10 days")  # never late: spanDays=2
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch(apply_batch)
        .trigger(processingTime="1 second")
        .start()
    )
    # De-flake (VERDICT r11 #9): the original fixed 10 s sleep could
    # elapse under a loaded box before ANY micro-batch finished its
    # publish (observed when the full suite runs next to a concurrent
    # sweep). Poll for the FIRST completed publish instead — the
    # stream/batch equality below holds for any processed prefix, so
    # the assertions are publish-count-independent; the deadline only
    # bounds a genuinely wedged stream.
    deadline = time.time() + 180
    while time.time() < deadline:
        if read_published(synth, table) is not None:
            break
        time.sleep(0.5)
    else:
        q.stop()
        pytest.fail("no micro-batch published within 180 s: stream wedged")
    q.stop()
    q.awaitTermination(60)

    served = read_published(synth, table)
    assert served is not None  # at least one publish completed
    n_rows = served.agg(F.sum("n")).collect()[0][0]
    assert n_rows and n_rows % 200 == 0  # whole batches only
    batch_twin = (
        synth.read.format("synthetic_events")
        .option("rows", n_rows)
        .option("users", 10)
        .option("spanDays", 2)
        .load()
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, batch_twin.collect()))
    assert got == want
