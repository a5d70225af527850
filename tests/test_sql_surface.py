"""The SQL entry point a reference user migrates to."""

from __future__ import annotations

from etl_orders_spark.sql import register_views, sql


def test_register_views_and_query(spark, sf_dir):
    names = register_views(spark, sf_dir)
    assert "lineitem" in names and "documents" in names
    out = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert out > 0


def test_sql_one_shot_join(spark, sf_dir):
    df = sql(
        spark,
        sf_dir,
        """
        SELECT c.c_mktsegment AS seg, COUNT(*) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
        """,
    )
    rows = {r["seg"]: r["n"] for r in df.collect()}
    assert rows and sum(rows.values()) > 0


def test_sql_views_push_filters(spark, sf_dir):
    df = sql(spark, sf_dir, "SELECT o_orderkey FROM orders WHERE o_totalprice > 50000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(o_totalprice" in plan  # views stay pushdown-transparent


def test_sql_events_view_has_converted_timestamp(spark, sf_dir):
    df = sql(spark, sf_dir, "SELECT MIN(ts) AS t0 FROM events")
    assert df.schema["t0"].dataType.typeName() == "timestamp"


def test_plan_summary_reports_scale_facts(spark, sf_dir):
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.sources.readers import load_table
    from etl_orders_spark.sql import plan_summary

    s = plan_summary(query_map()["q5_region_revenue"](spark, sf_dir))
    assert s["broadcast_hash_joins"] == 5
    assert s["sort_merge_joins"] == 0
    assert s["shuffled_hash_joins"] == 0
    assert s["nested_loop_joins"] == 0
    # all five dim joins broadcast: every exchange is a broadcast, the
    # fact side never shuffles (the counts exclude ReusedExchange)
    assert s["broadcast_exchanges"] >= 1
    assert s["global_windows"] == 0
    t = plan_summary(query_map()["orderby_limit"](spark, sf_dir))
    assert t["take_ordered"]
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    h = plan_summary(li.join(orders, li.l_orderkey == orders.o_orderkey))
    assert h["shuffled_hash_joins"] == 1
    assert h["sort_merge_joins"] == 0 and h["broadcast_hash_joins"] == 0


def test_plan_summary_counts_a_filled_stage_once(spark):
    """A consumer of a filled stage prints the stage's already-run plan
    twice (AQE's final and initial plans); only the final one counts."""
    import re

    from etl_orders_spark.operators.materialize import _STAGE_CACHE, cache_stage
    from etl_orders_spark.sql import plan_summary

    key = "test.plan_summary.filled"
    _STAGE_CACHE.pop(key, None)
    staged = cache_stage(spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count(), key)
    consumer = staged.where("k < 3")
    raw = consumer._jdf.queryExecution().executedPlan().toString()
    assert "== Initial Plan ==" in raw
    assert len(re.findall(r"(?<!Reused)(?<!Broadcast)Exchange", raw)) == 2
    assert plan_summary(consumer)["shuffle_exchanges"] == 1
    consumer.collect()  # the consumer's own run adds a third copy
    assert plan_summary(consumer)["shuffle_exchanges"] == 1
    staged.unpersist()
    _STAGE_CACHE.pop(key, None)


def test_plan_summary_counts_a_stage_read_three_times_once(spark):
    """Each scan of a stage prints the stage's plan below it, but that
    plan ran once, when the stage was filled."""
    from etl_orders_spark.operators.materialize import _STAGE_CACHE, cache_stage
    from etl_orders_spark.sql import plan_summary, plan_text

    key = "test.plan_summary.three_scans"
    _STAGE_CACHE.pop(key, None)
    staged = cache_stage(spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count(), key)
    consumer = (
        staged.where("k < 3")
        .unionByName(staged.where("k > 4"))
        .unionByName(staged.where("k = 3"))
    )
    text = plan_text(consumer)
    assert text.count("InMemoryTableScan") == 3
    assert text.count("InMemoryRelation") == 3
    assert plan_summary(consumer)["shuffle_exchanges"] == 1
    staged.unpersist()
    _STAGE_CACHE.pop(key, None)
