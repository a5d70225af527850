"""The driver contract itself, driven the way the driver drives it."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns[-1] == "net_price_cents"


def test_contract_shapes(spark):
    q = E.queries()
    o = E.oracle_sql()
    assert len(q) >= 70
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_one_query_through_contract(spark, sf_dir):
    df = E.queries()["q1_pricing_summary"](spark, sf_dir)
    assert df.count() > 0


def test_shuffle_partition_precedence_is_shared(spark, monkeypatch):
    """get_spark and pin_session_defaults size shuffle partitions by
    the same rule: the env override when set, else the session's own
    parallelism (tests/test_session_launch.py launches one)."""
    from etl_orders_spark.session import pin_session_defaults, shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    cores = str(spark.sparkContext.defaultParallelism)
    before = spark.conf.get(key)
    try:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        assert shuffle_partitions(spark) == cores
        pin_session_defaults(spark)
        assert spark.conf.get(key) == cores

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")
        assert shuffle_partitions(spark) == "7"
        pin_session_defaults(spark)
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)
