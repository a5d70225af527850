"""applyInPandasWithState across micro-batches + salted-join equality."""

from __future__ import annotations

import math
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from etl_orders_spark.operators.skew import cap_group_fanout, salted_join
from etl_orders_spark.streaming.stateful import running_user_stats

SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


BATCH1 = [
    (1, ts("2024-01-01 10:00:00"), 1, 10.0),
    (2, ts("2024-01-01 10:01:00"), 1, 5.0),
    (3, ts("2024-01-01 10:02:00"), 2, 7.0),
]
BATCH2 = [
    (4, ts("2024-01-01 11:00:00"), 1, 20.0),
    (5, ts("2024-01-01 11:01:00"), 2, 1.0),
]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stateful")
    p = str(root / "events")
    # two separate files => two micro-batches under maxFilesPerTrigger=1
    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("overwrite").parquet(p)
    spark.createDataFrame(BATCH2, SCHEMA).coalesce(1).write.mode("append").parquet(p)
    return p


def test_running_stats_state_survives_micro_batches(spark, events_dir):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    rows = spark.table("t_state").collect()
    # update mode appends one refreshed row per user per touching batch;
    # the LAST row per user carries the accumulated state
    last = {}
    for r in rows:
        last[r["user_id"]] = (r["n_events"], r["total_value"], r["max_value"])
    batch = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    want = {
        r["user_id"]: (r["n_events"], r["total_value"], r["max_value"])
        for r in running_user_stats(batch).collect()
    }
    assert last == want
    assert want[1] == (3, 35.0, 20.0) and want[2] == (2, 8.0, 7.0)
    # state genuinely crossed batches: user 1 appears twice with growing counts
    u1_counts = [r["n_events"] for r in rows if r["user_id"] == 1]
    assert sorted(u1_counts) == [2, 3]


def test_salted_join_equals_plain_join(spark, sf_dir):
    from etl_orders_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    plain = li.join(part, li.l_partkey == part.p_partkey).select("l_orderkey", "l_linenumber", "p_brand")
    salted = salted_join(li, part, "l_partkey", "p_partkey", n_salts=4).select(
        "l_orderkey", "l_linenumber", "p_brand"
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must occupy n_salts distinct salted partitions."""
    hot = spark.range(1000).select(F.lit(42).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(42, "x")], "dk long, v string")
    out = salted_join(hot, dim, "k", "dk", n_salts=8)
    assert out.count() == 1000
    # the salt column is internal, but its spread is observable pre-drop:
    b = hot.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("k"), F.monotonically_increasing_id()), F.lit(8))
    )
    assert b.select("_salt").distinct().count() == 8


def test_running_user_stats_batch_fallback(spark):
    df = spark.createDataFrame(BATCH1, SCHEMA)
    got = {r["user_id"]: r["total_value"] for r in running_user_stats(df).collect()}
    assert math.isclose(got[1], 15.0) and math.isclose(got[2], 7.0)


def test_cap_group_fanout_bounds_mega_groups_deterministically(spark):
    """The mega-basket cap keeps the `cap` smallest items per group
    (deterministic) and leaves narrow groups byte-identical."""
    rows = [(1, i) for i in range(100)] + [(2, 7), (2, 3)]
    df = spark.createDataFrame(rows, "ok long, pk long")
    capped = cap_group_fanout(df, "ok", "pk", 10)
    got = capped.collect()
    g1 = sorted(r["pk"] for r in got if r["ok"] == 1)
    g2 = sorted(r["pk"] for r in got if r["ok"] == 2)
    assert g1 == list(range(10))  # smallest 10, not an arbitrary 10
    assert g2 == [3, 7]  # below-cap group untouched
    assert capped.columns == df.columns  # helper column dropped


def test_cap_group_fanout_noop_on_tpch_baskets(spark, sf_dir):
    """TPC-H baskets are ≤7 parts, so the production cap of 64 must
    never drop a row on the fixtures — this is what keeps the basket
    queries' oracles exact."""
    from etl_orders_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    assert cap_group_fanout(li, "l_orderkey", "l_partkey", 64).count() == li.count()


def test_salted_join_rejects_outer_modes(spark):
    """Replicated small side makes right/full outer unsalvageable —
    the operator refuses instead of silently duplicating rows."""
    import pytest

    from etl_orders_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, a string")
    small = spark.createDataFrame([(1, "y")], "dk long, b string")
    with pytest.raises(ValueError, match="inner"):
        salted_join(big, small, "k", "dk", n_salts=4, how="full")
