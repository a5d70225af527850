"""Unit tests for the two-pass distributed rank (operators/rank.py):
exact equivalence to the single-partition window forms, on inputs
deliberately spread across many range partitions."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_orders_spark.operators.rank import adjacent_pairs, ntile_from_rank, two_pass_rank


def _scattered(spark):
    # 997 rows, values deliberately collide (v has ~100 distinct) so
    # range boundaries land mid-run of equal v; id breaks ties.
    return spark.range(997).select(
        F.col("id"), (F.pmod(F.col("id") * 7919, F.lit(100))).alias("v")
    )


@pytest.fixture(scope="module")
def scattered(spark):
    return _scattered(spark)


def test_rank_matches_global_window(spark, scattered):
    got = (
        two_pass_rank(scattered, [F.col("v"), F.col("id")], rank_col="rk", partitions=7)
        .select("id", "rk")
        .collect()
    )
    want = scattered.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("rk")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_rank_desc_and_cumsum_match(spark, scattered):
    got = (
        two_pass_rank(
            scattered,
            [F.col("v").desc(), F.col("id")],
            rank_col="rk",
            cumsum={"cum_v": F.col("v")},
            partitions=5,
        )
        .select("id", "rk", "cum_v")
        .collect()
    )
    w = Window.orderBy(F.col("v").desc(), "id")
    want = scattered.select(
        "id",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_v"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_cumsum_only_skips_rank_column(spark, scattered):
    out = two_pass_rank(scattered, [F.col("id")], rank_col=None, cumsum={"c": F.lit(1)})
    assert set(out.columns) == {"id", "v", "c"}
    rows = {r["id"]: r["c"] for r in out.collect()}
    assert rows[0] == 1 and rows[996] == 997


def test_rejects_empty_request(scattered):
    with pytest.raises(ValueError):
        two_pass_rank(scattered, [F.col("id")], rank_col=None)


@pytest.mark.parametrize("n,k", [(10, 4), (12, 4), (7, 10), (997, 10), (1, 1)])
def test_ntile_from_rank_matches_sql_ntile(spark, n, k):
    df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
    got = df.select(
        "rk", ntile_from_rank(F.col("rk"), F.lit(n), k).alias("b")
    ).collect()
    want = (
        spark.range(1, n + 1)
        .select(F.col("id"))
        .select(
            F.col("id").alias("rk"),
            F.ntile(k).over(Window.orderBy("id")).cast("long").alias("b"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.parametrize("parts", [1, 7, 64])
def test_adjacent_pairs_matches_global_lead(spark, scattered, parts):
    # 64 partitions over 997 rows forces boundary stitching (and, at
    # 100 distinct v over 64 ranges, several near-empty partitions)
    got = (
        adjacent_pairs(
            scattered, [F.col("v"), F.col("id")], ["id", "v"], partitions=parts
        )
        .select("id", "v", "id_next", "v_next")
        .collect()
    )
    w = Window.orderBy("v", "id")
    want = (
        scattered.select(
            "id",
            "v",
            F.lead("id").over(w).alias("id_next"),
            F.lead("v").over(w).alias("v_next"),
        )
        .filter(F.col("id_next").isNotNull())
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 996  # every row but the global last has a successor


def test_plan_has_no_unvetted_global_window(spark, scattered):
    from etl_orders_spark.sql import count_global_windows

    df = two_pass_rank(scattered, [F.col("v"), F.col("id")], rank_col="rk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only partition-less window is the P-row offsets prefix sum,
    # recognized (and exempted) by its _tpr_pid ordering
    assert count_global_windows(plan) == 0
    assert "windowspecdefinition" in plan


def _order():
    return [F.col("v"), F.col("id")]


_BUILDS = {
    "rank": lambda df: two_pass_rank(df, _order(), partitions=7),
    "cumsum": lambda df: two_pass_rank(df, _order(), cumsum={"cs": F.col("v")}, partitions=7),
    "adjacent": lambda df: adjacent_pairs(df, _order(), ["id", "v"], partitions=7),
}


@pytest.mark.parametrize("name", list(_BUILDS))
def test_rebuild_reuses_the_ranged_stage(spark, jobs_under, name):
    """The ranged frame is a keyed stage: building the operator again
    over a rebuilt, identical input runs no job, and the result is the
    first build's."""
    call = _BUILDS[name]
    spark.catalog.clearCache()
    first, _ = jobs_under(f"rank.{name}.first", lambda: call(_scattered(spark)))
    again, jobs = jobs_under(f"rank.{name}.again", lambda: call(_scattered(spark)))
    assert jobs == 0
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, first.collect()))
