"""Tests for scan/sink operators (S1-S6, O4) and property-style
invariants for joins/aggs (SURVEY.md §5.2)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_orders_spark.sources.readers import from_json_strings, load_table, read_csv, read_parquet
from etl_orders_spark.sources.writers import write_jdbc, write_overwrite_table, write_parquet

_DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_write_jdbc_roundtrip_overwrite_append(spark):
    """S5 — real JDBC sink against embedded Derby (shipped with Spark
    for the Hive metastore): batched prepared statements, overwrite DDL
    + append semantics — the capability the reference built by string-
    concatenating one giant INSERT (reference: dags/utils/df_to_sql.py)."""
    url = "jdbc:derby:memory:etl_orders_test;create=true"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_jdbc(df, url, "orders_jdbc", mode="overwrite", **_DERBY)
    back = spark.read.format("jdbc").options(url=url, dbtable="orders_jdbc", **_DERBY).load()
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]
    # append accumulates; overwrite resets (the reference's full-refresh load)
    write_jdbc(df, url, "orders_jdbc", mode="append", **_DERBY)
    assert spark.read.format("jdbc").options(url=url, dbtable="orders_jdbc", **_DERBY).load().count() == 4
    write_jdbc(df.limit(1), url, "orders_jdbc", mode="overwrite", **_DERBY)
    assert spark.read.format("jdbc").options(url=url, dbtable="orders_jdbc", **_DERBY).load().count() == 1


def test_read_csv_explicit_schema_types(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    df = read_csv(spark, p, schema)
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert df.count() == 2


def test_from_json_strings(spark):
    df = spark.createDataFrame([('{"k": 7, "s": "hi"}',), ("not json",)], "props string")
    out = from_json_strings(df, "props", "k long, s string")
    rows = out.select("parsed.k", "parsed.s").collect()
    assert (rows[0]["k"], rows[0]["s"]) == (7, "hi")
    assert rows[1]["k"] is None  # malformed -> null struct, no crash


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, part string")
    p = str(tmp_path / "out")
    write_parquet(df, p, partition_by=["part"])
    # partition pruning layout: one dir per value
    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == ["part=a", "part=b"]
    back = read_parquet(spark, p)
    assert back.count() == 3
    # reading one partition touches only that directory
    only_a = read_parquet(spark, p).filter(F.col("part") == "a")
    assert only_a.count() == 2


def test_write_overwrite_table_column_subset_rename(spark):
    df = spark.createDataFrame([("2024-04-01", 1, 99)], "Fecha string, User_ID long, Extra long")
    try:
        write_overwrite_table(
            df, "orders_load", select_cols=["Fecha", "User_ID"], target_cols=["ORDER_DATE", "USER_ID"]
        )
        back = spark.table("orders_load")
        assert back.columns == ["ORDER_DATE", "USER_ID"]
        assert back.collect()[0]["ORDER_DATE"] == "2024-04-01"
        # full-refresh overwrite semantics (reference drop+create+insert)
        write_overwrite_table(df.limit(0), "orders_load", ["Fecha"], ["ORDER_DATE"])
        assert spark.table("orders_load").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_load")


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the second columnar format the engine supports natively
    (same explicit-schema posture as parquet)."""
    df = spark.createDataFrame([(1, "a", 2.5), (2, "b", 3.5)], "id long, s string, x double")
    p = str(tmp_path / "orc_out")
    df.write.mode("overwrite").orc(p)
    back = spark.read.schema(df.schema).orc(p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert back.dtypes == df.dtypes


def test_json_lines_roundtrip(spark, tmp_path):
    """Plain JSON-lines (non-envelope) scan with explicit schema."""
    p = str(tmp_path / "jl")
    df = spark.createDataFrame([(1, "x"), (2, None)], "id long, s string")
    df.write.mode("overwrite").json(p)
    back = spark.read.schema("id long, s string").json(p)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, None)]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: an upstream adds a column; mergeSchema unions
    the footers and old files read the new column as null — the
    100 TB reality of long-lived datasets."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, s string").write.mode("append").parquet(p)
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double").write.mode(
        "append"
    ).parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "s", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from etl_orders_spark.sources.writers import compact_parquet

    src = str(tmp_path / "fragmented")
    # simulate a streaming sink's droppings: 40 tiny files
    spark.range(4000).repartition(40).write.mode("overwrite").parquet(src)
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src == 40
    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, src, dst)
    assert n_out == 1  # tiny dataset -> one file
    files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(dst).count() == 4000


def test_load_table_events_ts_is_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0
    # sane domain: driver generates 2024+ events
    y = ev.select(F.min(F.year("ts")).alias("y")).collect()[0]["y"]
    assert y >= 2020


def test_inner_join_cardinality_invariant(spark, sf_dir):
    """Property: inner equi-join on a unique right key never grows the
    left side (the reference's RI-filter semantics, SURVEY.md §1.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey, "inner")
    assert joined.count() <= li.count()


def test_agg_sum_invariant_under_repartition(spark, sf_dir):
    """Property: aggregate totals are partition-layout independent."""
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    a = li.agg(F.sum("l_quantity")).collect()[0][0]
    b = li.repartition(13).agg(F.sum("l_quantity")).collect()[0][0]
    assert a == b


def test_jsonl_roundtrip_with_declared_schema(spark, tmp_path):
    """JSONL reader: line-splittable bulk format with explicit schema;
    missing fields surface as NULLs, never as inference surprises."""
    from etl_orders_spark.sources.readers import read_jsonl
    from pyspark.sql import types as T

    p = tmp_path / "recs.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n'
        '{"id": 2, "name": "b"}\n'
        '{"id": 3, "score": 2.5, "extra": "ignored"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = {r.id: (r.name, r.score) for r in read_jsonl(spark, str(p), schema).collect()}
    assert rows == {1: ("a", 1.5), 2: ("b", None), 3: (None, 2.5)}


def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    from pyspark.sql import types as T

    from etl_orders_spark.sources.readers import read_csv_quarantine

    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n")
        f.write("1,alice,2.5\n")
        f.write("not_a_number,bob,1.0\n")  # unparseable id -> quarantine
        f.write("2,carol,3.5\n")
        f.write("3,dave,oops\n")  # unparseable score -> quarantine
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    good, bad, parsed = read_csv_quarantine(spark, p, schema)
    assert good.columns == ["id", "name", "score"]
    assert {r.id for r in good.collect()} == {1, 2}
    bad_lines = {r.raw_line for r in bad.collect()}
    assert bad_lines == {"not_a_number,bob,1.0", "3,dave,oops"}
    assert parsed.is_cached
    parsed.unpersist()  # the handle exists precisely for this release
    assert not parsed.is_cached


def test_events_ts_dispatch_handles_nanos_and_micros(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_orders_spark.sources.readers import load_events_stream, load_table
    from etl_orders_spark.streaming.windows import run_available_now_to_memory

    base = 1_704_103_200  # 2024-01-01 10:00:00 UTC, epoch seconds
    for unit, store in [("ns", "nanos"), ("us", "micros")]:
        d = tmp_path / store
        d.mkdir()
        mult = 1_000_000_000 if unit == "ns" else 1_000_000
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([base * mult, (base + 60) * mult], pa.timestamp(unit)),
                "user_id": pa.array([7, 7], pa.int64()),
                "event_type": pa.array(["click", "view"]),
                "value": pa.array([1.0, 2.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        got = load_table(spark, str(d), "events").select("event_id", "ts").collect()
        stamps = {r.event_id: r.ts for r in got}
        assert stamps[2].minute - stamps[1].minute == 1
        assert stamps[1].year == 2024, f"{store}: batch read wrong epoch"
        # streaming twin dispatches identically
        stream = load_events_stream(spark, str(d))
        run_available_now_to_memory(
            stream.select("event_id", "ts"), f"t_disp_{store}", output_mode="append"
        )
        srows = {r.event_id: r.ts for r in spark.table(f"t_disp_{store}").collect()}
        assert srows == stamps, f"{store}: stream/batch ts mismatch"


def test_with_provenance_stamps_file_and_batch(spark, sf_dir):
    from etl_orders_spark.sources.readers import load_table, with_provenance

    df = with_provenance(load_table(spark, sf_dir, "region"), "batch-42")
    rows = df.collect()
    assert rows
    for r in rows:
        assert r._source_file.endswith("region.parquet") or "region.parquet/" in r._source_file
        assert r._ingest_batch == "batch-42"


def test_write_jdbc_postgres_dialect_smoke(spark):
    """S5 against the reference's REAL target dialect (reference:
    dags/etl.py:272-288 writes Postgres). Derby above proves the sink
    mechanics; this pins the Postgres type mapping (bigint/text/
    timestamp/numeric round-trip) and the batched-insert path when a
    server is reachable. Auto-skips in the sandbox: export
    ETL_ORDERS_PG_URL as a full JDBC url, e.g.
    jdbc:postgresql://host:5432/db?user=u&password=p
    (the postgresql driver jar must be on spark.jars)."""
    import datetime
    import decimal

    import pytest

    url = os.environ.get("ETL_ORDERS_PG_URL")
    if not url:
        pytest.skip("ETL_ORDERS_PG_URL not set; Postgres smoke runs only against a live server")
    opts = {"driver": "org.postgresql.Driver", "batchsize": "500"}
    df = spark.createDataFrame(
        [
            (1, "a", datetime.datetime(2024, 1, 1, 10, 0), decimal.Decimal("12.34")),
            (2, "b", datetime.datetime(2024, 1, 2, 11, 30), decimal.Decimal("0.01")),
        ],
        "id long, s string, ts timestamp, amt decimal(10,2)",
    )
    write_jdbc(df, url, "etl_orders_pg_smoke", mode="overwrite", **opts)
    back = spark.read.format("jdbc").options(url=url, dbtable="etl_orders_pg_smoke", **opts).load()
    assert back.dtypes == [("id", "bigint"), ("s", "string"), ("ts", "timestamp"), ("amt", "decimal(10,2)")]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    write_jdbc(df, url, "etl_orders_pg_smoke", mode="append", **opts)
    assert spark.read.format("jdbc").options(url=url, dbtable="etl_orders_pg_smoke", **opts).load().count() == 4


def test_read_orc_roundtrip_with_schema(spark, tmp_path):
    """S1 (ORC) — write→read round trip preserves types and values;
    explicit schema path mirrors read_parquet's contract."""
    from etl_orders_spark.sources.readers import read_orc

    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", -0.25)], "id long, s string, v double")
    p = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(p)
    back = read_orc(spark, p, df.schema)
    assert back.dtypes == df.dtypes
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
