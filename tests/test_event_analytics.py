"""Tests for the event analytics shapes: streaks, concurrency sweep,
PageRank over the transition graph."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_orders_spark.plans.time_queries import (
    _transition_edges,
    activity_streaks_users,
    concurrent_sessions_peak,
    pagerank_event_types,
)

SF = "/root/testdata/sf0.001"


def test_streaks_invariants(spark):
    out = activity_streaks_users(spark, SF)
    rows = out.collect()
    assert rows
    for r in rows:
        assert 1 <= r["longest_streak"] <= r["n_active_days"]
        assert r["n_streaks"] <= r["n_active_days"]


def test_streaks_islands_inline(spark):
    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 1, 10), 1),
        (1, d(2024, 1, 2, 10), 2),  # 2-day island
        (1, d(2024, 1, 5, 10), 3),  # singleton island
        (2, d(2024, 1, 1, 10), 4),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    ev.createOrReplaceTempView("_streak_ev")
    from pyspark.sql import Window as W

    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    isl = days.withColumn("anchor", F.date_sub(F.col("d"), rn))
    got = {
        (r["user_id"], r["n"])
        for r in isl.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {(1, 2), (1, 1), (2, 1)}


def test_concurrency_peak_bounds(spark):
    peaks = concurrent_sessions_peak(spark, SF)
    rows = peaks.collect()
    assert rows
    # peak concurrency can never exceed the number of sessions that day
    # and is at least 1 whenever any session started
    assert all(r["peak_concurrent"] >= 1 for r in rows)


def test_transition_edges_and_pagerank_mass(spark):
    d = datetime.datetime
    rows = [  # user 1: a -> b -> a ; user 2: a -> b
        (1, d(2024, 1, 1, 0, 0), 1, "a"),
        (1, d(2024, 1, 1, 0, 1), 2, "b"),
        (1, d(2024, 1, 1, 0, 2), 3, "a"),
        (2, d(2024, 1, 1, 0, 0), 4, "a"),
        (2, d(2024, 1, 1, 0, 1), 5, "b"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    edges = {(r["src"], r["dst"]): r["w"] for r in _transition_edges(ev).collect()}
    assert edges == {("a", "b"): 2, ("b", "a"): 1}

    pr = pagerank_event_types(spark, SF)
    vals = [r["pagerank"] for r in pr.collect()]
    assert vals and all(v > 0 for v in vals)
    # link-follow PageRank drops dangling mass, so total is in (0, 1]
    assert sum(vals) <= 1.000001


def test_top_session_paths_shape(spark):
    rows = __import__("etl_orders_spark.plans.time_queries", fromlist=["top_session_paths"]).top_session_paths(spark, SF).collect()
    assert 0 < len(rows) <= 10
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r["path"].split(">")) == 3 for r in rows)


def test_rfm_scores_in_range(spark):
    from etl_orders_spark.plans.core_queries import rfm_segments

    rows = rfm_segments(spark, SF).collect()
    assert rows
    for r in rows:
        for s in ("r_score", "f_score", "m_score"):
            assert 1 <= r[s] <= 4
    # every quartile score level should be populated on real data
    assert {r["r_score"] for r in rows} == {1, 2, 3, 4}


def test_kmeans_partitions_all_vectors(spark):
    from etl_orders_spark.plans.vector_queries import kmeans_embeddings
    from etl_orders_spark.sources.readers import load_table

    total = load_table(spark, SF, "embeddings").count()
    rows = kmeans_embeddings(spark, SF).collect()
    assert sum(r["n_points"] for r in rows) == total
    assert all(r["centroid_norm"] > 0 for r in rows)


def test_triangle_count_nonnegative(spark):
    from etl_orders_spark.plans.core_queries import triangle_count_copurchase

    r = triangle_count_copurchase(spark, SF).collect()[0]
    assert r["n_edges"] > 0 and r["n_triangles"] >= 0


def test_ewma_first_day_is_alpha_times_revenue(spark):
    from etl_orders_spark.plans.core_queries import ewma_daily_revenue

    rows = ewma_daily_revenue(spark, SF).collect()
    first = min(rows, key=lambda r: r["day"])
    assert abs(first["ewma_cents"] - round(0.2 * first["rev_cents"], 2)) < 1e-6


def test_dau_mau_stickiness_bounds(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map

    rows = query_map()["dau_mau_stickiness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.dau <= r.mau  # DAU is a subset of the 28-day actives
        assert 0 < r.stickiness_milli <= 1000


def test_dau_mau_plan_has_no_nested_loop(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map

    p = (
        query_map()["dau_mau_stickiness"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in p  # explode form, not range join


def test_survival_curve_monotone_nonincreasing(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map

    rows = sorted(
        query_map()["signup_to_purchase_survival"](spark, sf_dir).collect(),
        key=lambda r: r.week,
    )
    assert [r.week for r in rows] == [0, 1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b.survival_milli <= a.survival_milli  # more time, never fewer converts
        assert b.n_total == a.n_total
    for r in rows:
        assert 0 <= r.survival_milli <= 1000 and r.n_converted <= r.n_total


def test_bounce_rate_consistent_with_sessionizer(spark, sf_dir):
    from etl_orders_spark.operators.sessionize import session_stats
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    rows = query_map()["bounce_rate_daily"](spark, sf_dir).collect()
    n_sessions = sum(r.n_sessions for r in rows)
    want = session_stats(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    ).count()
    assert n_sessions == want
    for r in rows:
        assert 0 <= r.n_bounces <= r.n_sessions
        assert r.bounce_milli == r.n_bounces * 1000 // r.n_sessions


def test_session_flows_conserve_sessions(spark, sf_dir):
    from etl_orders_spark.operators.sessionize import session_stats
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    rows = query_map()["session_entry_exit_flows"](spark, sf_dir).collect()
    total = sum(r.n_sessions for r in rows)
    want = session_stats(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    ).count()
    assert total == want
    assert all(r.entry_type and r.exit_type for r in rows)


def test_gap_sensitivity_monotone_and_consistent_with_sessionizer(spark, sf_dir):
    from etl_orders_spark.operators.sessionize import session_stats
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    rows = {r.gap_minutes: r.n_sessions for r in query_map()["session_gap_sensitivity"](spark, sf_dir).collect()}
    assert list(sorted(rows)) == [5, 15, 30, 60]
    # tighter gap => at least as many sessions
    assert rows[5] >= rows[15] >= rows[30] >= rows[60]
    # the 30-minute point must equal the real sessionizer's count
    want = session_stats(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    ).count()
    assert rows[30] == want


def test_decay_scores_bounded_by_event_counts(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map

    rows = query_map()["engagement_decay_scores"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # each event contributes (0, 1e6]; score <= n_events * 1e6
        assert 0 < r.decay_score_micro <= r.n_events * 1_000_000


def test_heatmap_covers_events_exactly(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    rows = query_map()["activity_heatmap_dow_hour"](spark, sf_dir).collect()
    assert sum(r.n_events for r in rows) == load_table(spark, sf_dir, "events").count()
    for r in rows:
        assert 0 <= r.dow_idx <= 6 and 0 <= r.hour_utc <= 23


def test_return_latency_consistent_with_session_counts(spark, sf_dir):
    from etl_orders_spark.operators.sessionize import session_stats
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    r = query_map()["return_latency_median"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    n_sessions = session_stats(ev, "user_id", "ts", "event_id").count()
    n_users = ev.select("user_id").distinct().count()
    # one inter-session gap per session beyond a user's first
    assert r.n_gaps == n_sessions - n_users
    # a gap between sessions is > the 30-minute inactivity threshold
    assert r.median_return_minutes >= 30


def test_props_coverage_bounds(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table

    rows = query_map()["props_key_coverage"](spark, sf_dir).collect()
    assert sum(r.n_events for r in rows) == load_table(spark, sf_dir, "events").count()
    for r in rows:
        assert 0 <= r.n_with_k <= r.n_events
        assert r.coverage_milli == r.n_with_k * 1000 // r.n_events
