"""The runnable pipeline entry point: one invocation must generate
fixtures, run the star denormalization, and load both tables — the
process a scheduler (the reference's daily Airflow trigger) invokes."""

from __future__ import annotations

import shutil

import etl_orders_spark.run_pipeline as pipeline
from etl_orders_spark.run_pipeline import run
from etl_orders_spark.sources.generator import write_reference_fixtures
from tools.scan_audit import scan_counts


def test_run_pipeline_end_to_end(spark, tmp_path, jobs_under):
    data_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_reference_fixtures(spark, data_dir)
    ran = {}

    def load():
        ran["counts"], ran["jobs"] = jobs_under(
            "test.run_pipeline", lambda: run(spark, data_dir, out_dir)
        )

    # the counts are observed while the tables are written: no job
    # reads a written table back. 5 jobs = USERS' user_info broadcast
    # and write, ORDERS' products and users broadcasts and write
    assert scan_counts(spark, load) == {}
    assert ran["jobs"] == 5
    counts = ran["counts"]

    assert counts["USERS"] == 300  # 500 info ⋈ 300 users (reference: dags/etl.py:84-86)
    assert 0.6 * 3000 <= counts["ORDERS"] <= 0.8 * 3000  # dangling-FK drop (~70% survive)

    orders = spark.read.parquet(f"{out_dir}/ORDERS")
    assert orders.columns == [
        "ORDER_DATE", "USER_ID", "PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "PRICE"
    ]
    assert orders.count() == counts["ORDERS"]
    assert spark.read.parquet(f"{out_dir}/USERS").count() == 300


def test_run_pipeline_header_only_orders_day(spark, tmp_path):
    """A day without orders loads an empty ORDERS table and reports 0:
    the observed count of a write over no rows still arrives."""
    data_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    write_reference_fixtures(spark, str(data_dir))
    orders_dir = data_dir / "orders_csv"
    header = next(orders_dir.glob("part-*.csv")).read_text().splitlines()[0]
    shutil.rmtree(orders_dir)
    orders_dir.mkdir()
    (orders_dir / "part-00000.csv").write_text(header + "\n")

    assert run(spark, str(data_dir), out_dir) == {"USERS": 300, "ORDERS": 0}
    assert spark.read.parquet(f"{out_dir}/ORDERS").count() == 0


def test_run_pipeline_jdbc_load_reads_the_written_parquet(spark, tmp_path, monkeypatch):
    data_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_reference_fixtures(spark, data_dir)
    loaded = []
    monkeypatch.setattr(
        pipeline, "write_jdbc",
        lambda df, url, table, mode: loaded.append((df.inputFiles(), table)),
    )
    counts = run(spark, data_dir, out_dir, jdbc_url="jdbc:h2:mem:unused")

    assert [table for _, table in loaded] == ["USERS", "ORDERS"]
    for files, table in loaded:
        assert files and all(f"/out/{table}/part-" in f for f in files)
    assert counts == {
        table: spark.read.parquet(f"{out_dir}/{table}").count() for table in ("USERS", "ORDERS")
    }
    assert counts["USERS"] == 300
