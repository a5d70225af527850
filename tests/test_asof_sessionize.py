"""Tests for the custom join/time operators Spark lacks natively."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from etl_orders_spark.operators.asof import asof_join, range_join
from etl_orders_spark.operators.sessionize import session_stats, sessionize


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            (1, 100, ts("2024-01-01 10:00:00")),
            (2, 100, ts("2024-01-01 11:00:00")),
            (3, 200, ts("2024-01-01 10:30:00")),
            (4, 300, ts("2024-01-01 09:00:00")),  # no quote before it
        ],
        "trade_id long, sym long, t timestamp",
    )


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            (10, 100, ts("2024-01-01 09:55:00")),
            (11, 100, ts("2024-01-01 10:05:00")),
            (12, 100, ts("2024-01-01 10:05:00")),  # tie on time -> highest id wins backward
            (13, 200, ts("2024-01-01 10:00:00")),
            (14, 300, ts("2024-01-01 12:00:00")),  # only after trade 4
        ],
        "quote_id long, qsym long, qt timestamp",
    )


def test_asof_backward_picks_latest_at_or_before(trades, quotes):
    out = {
        r["trade_id"]: r["quote_id"]
        for r in asof_join(
            trades, quotes, "trade_id", "t", "qt", "sym", "qsym", "quote_id", "backward"
        ).collect()
    }
    assert out[1] == 10  # 09:55 is the only quote <= 10:00
    assert out[2] == 12  # tie at 10:05 broken by larger quote_id
    assert out[3] == 13
    assert out[4] is None  # merge_asof semantics: unmatched left kept


def test_asof_forward_picks_earliest_at_or_after(trades, quotes):
    out = {
        r["trade_id"]: r["quote_id"]
        for r in asof_join(
            trades, quotes, "trade_id", "t", "qt", "sym", "qsym", "quote_id", "forward"
        ).collect()
    }
    assert out[1] in (11, 12) and out[1] == 11  # tie broken by smaller id forward
    assert out[4] == 14


def test_asof_rejects_bad_direction(trades, quotes):
    with pytest.raises(ValueError):
        asof_join(trades, quotes, "trade_id", "t", "qt", "sym", "qsym", "quote_id", "sideways")


def test_range_join_keyed(spark):
    left = spark.createDataFrame([(1, 100, 10)], "lid long, k long, lo long")
    right = spark.createDataFrame(
        [(7, 100, 12), (8, 100, 30), (9, 999, 12)], "rid long, rk long, v long"
    )
    out = range_join(
        left, right, "k", "rk", (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("lo") + 10)
    )
    assert [r["rid"] for r in out.collect()] == [7]


def test_sessionize_gap_splits(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, ts("2024-01-01 10:00:00")),
            (2, 1, ts("2024-01-01 10:10:00")),  # same session (10 min gap)
            (3, 1, ts("2024-01-01 11:00:00")),  # 50 min gap -> new session
            (4, 2, ts("2024-01-01 10:00:00")),
        ],
        "eid long, uid long, t timestamp",
    )
    out = {r["eid"]: r["session_idx"] for r in sessionize(ev, "uid", "t", "eid").collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}

    stats = {
        (r["uid"], r["session_idx"]): (r["n_events"], r["duration_ms"])
        for r in session_stats(ev, "uid", "t", "eid").collect()
    }
    assert stats[(1, 1)] == (2, 600_000)
    assert stats[(1, 2)] == (1, 0)
    assert stats[(2, 1)] == (1, 0)


def test_sessionize_gap_boundary_is_exclusive(spark):
    # gap exactly == 30 min stays in the same session (> gap starts a new one)
    ev = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00")), (2, 1, ts("2024-01-01 10:30:00"))],
        "eid long, uid long, t timestamp",
    )
    out = {r["eid"]: r["session_idx"] for r in sessionize(ev, "uid", "t", "eid").collect()}
    assert out == {1: 1, 2: 1}


def test_asof_join_same_named_columns(spark):
    """The canonical as-of shape: both sides name the time column 'ts'
    and the by column 'sym' — must not trip ambiguous-reference."""
    from etl_orders_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, "A", 100), (2, "A", 205), (3, "B", 50)], "tid long, sym string, ts long"
    )
    quotes = spark.createDataFrame(
        [(10, "A", 90), (11, "A", 200), (12, "B", 60)], "qid long, sym string, ts long"
    )
    out = asof_join(trades, quotes, "tid", "ts", "ts", "sym", "sym", "qid")
    got = {r.tid: r.qid for r in out.collect()}
    assert got == {1: 10, 2: 11, 3: None}
