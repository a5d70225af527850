"""Runnable replacement for the reference's daily DAG run.

The reference executes 16 Airflow tasks (extract x4 → transform x3 →
to-SQL-text x2 → DDL x3 → insert x2, reference: dags/etl.py:292-298)
on a daily schedule. The equivalent here is ONE process invocation —
the scheduler stays external (cron / Airflow / Trigger.AvailableNow),
exactly as SURVEY.md §2.7/O3 scopes it:

    python -m etl_orders_spark.run_pipeline --data-dir /tmp/in \\
        --out /tmp/out [--generate] [--jdbc-url jdbc:... ]

Reads the reference-shaped inputs (users.csv, user_info.json,
orders.csv, products.csv), runs the star denormalization as one lazy
Catalyst plan, and loads the result: USERS (enriched users) and ORDERS
(final load projection) as parquet under --out, each counted as it is
written, plus a JDBC overwrite from that parquet when --jdbc-url is
given (S4/S5). --generate first writes the S7 synthetic fixtures into
--data-dir, mirroring the reference's create_data_source notebook.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from etl_orders_spark.plans.reference_pipeline import (
    final_orders_for_load,
    transform_orders,
    transform_users,
)
from etl_orders_spark.sources.readers import read_csv, read_json_envelope
from etl_orders_spark.sources.schemas import (
    ORDERS_CSV_SCHEMA,
    PRODUCTS_CSV_SCHEMA,
    USER_INFO_ENVELOPE_SCHEMA,
    USERS_CSV_SCHEMA,
)
from etl_orders_spark.sources.writers import write_jdbc, write_parquet


def run(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    jdbc_url: str | None = None,
) -> dict[str, int]:
    """Execute the full pipeline; returns loaded row counts per table."""
    p = lambda name: os.path.join(data_dir, name)  # noqa: E731
    # input layout = what write_reference_fixtures produces: header-CSV
    # directories per table + the single-document JSON envelope
    orders = read_csv(spark, p("orders_csv"), ORDERS_CSV_SCHEMA)
    products = read_csv(spark, p("products_csv"), PRODUCTS_CSV_SCHEMA)
    users = read_csv(spark, p("users_csv"), USERS_CSV_SCHEMA)
    user_info = read_json_envelope(spark, p("user_info.json"), USER_INFO_ENVELOPE_SCHEMA)

    enriched_users = transform_users(users, user_info)
    final_orders = final_orders_for_load(transform_orders(orders, products, users))

    counts: dict[str, int] = {}
    for table, df in (("USERS", enriched_users), ("ORDERS", final_orders)):
        out_path = os.path.join(out_dir, table)
        # the write observes its own row count; only the JDBC load reads
        # the table back, from the parquet just written
        written = Observation()
        write_parquet(df.observe(written, F.count(F.lit(1)).alias("rows")), out_path)
        counts[table] = written.get["rows"]
        if jdbc_url:
            write_jdbc(spark.read.parquet(out_path), jdbc_url, table, mode="overwrite")
    return counts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--data-dir", required=True, help="dir with the reference-shaped inputs")
    ap.add_argument("--out", required=True, help="output dir for parquet tables")
    ap.add_argument("--jdbc-url", default=None, help="optional JDBC sink (S4/S5)")
    ap.add_argument(
        "--generate", action="store_true",
        help="write S7 synthetic fixtures into --data-dir first",
    )
    args = ap.parse_args(argv)

    from etl_orders_spark.session import get_spark

    spark = get_spark("run_pipeline")
    if args.generate:
        from etl_orders_spark.sources.generator import write_reference_fixtures

        write_reference_fixtures(spark, args.data_dir)
    counts = run(spark, args.data_dir, args.out, jdbc_url=args.jdbc_url)
    for table, n in sorted(counts.items()):
        print(f"{table}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
