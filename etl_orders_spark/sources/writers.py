"""Sink operators (SURVEY.md §2.1: S4 DDL, S5 batch insert, S6 column-subset).

The reference loads by string-building one giant ``INSERT INTO ...
VALUES`` statement per table (reference: dags/utils/df_to_sql.py:1-14)
and executing it after a drop/create DDL task (reference:
dags/etl.py:218-235, 272-288) — full-refresh overwrite semantics. The
capability maps to `mode("overwrite")` writers; the injection-prone
SQL-text mechanism is not reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# compact_parquet's output file size
_TARGET_FILE_MB = 256


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Native sink. `partition_by` lays the data out for partition
    pruning (e.g. facts by date) — the scan-side half of the 100 TB
    story."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_overwrite_table(df: DataFrame, table: str, select_cols: list[str], target_cols: list[str]) -> None:
    """S4+S5+S6 — full-refresh load into a catalog table.

    `select_cols`/`target_cols` reproduce the reference's
    column-subset + positional rename insert (reference:
    dags/utils/df_to_sql.py:2-4 — e.g. Fecha→ORDER_DATE): select the
    subset, rename onto the target column list, overwrite the table.
    DDL + insert happen in one atomic `saveAsTable`, replacing the
    reference's drop/create + INSERT-text pair.
    """
    df.select(*select_cols).toDF(*target_cols).write.mode("overwrite").saveAsTable(table)


def compact_parquet(spark, src: str, dst: str) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    roughly `_TARGET_FILE_MB`. The operational chore every long-lived
    100 TB dataset needs — streaming sinks and incremental loads leave
    thousands of KB-sized files, and scan cost is dominated by file
    count once files drop below a rowgroup.

    Sizing uses the source's on-disk bytes (cheap filesystem listing,
    no data pass); the rewrite itself is one distributed job. Returns
    the number of output files.
    """
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    if total == 0:
        # os.walk sees only LOCAL paths — on s3a://hdfs:// it yields
        # nothing and the "compaction" would funnel the whole dataset
        # through one task; refuse instead of silently degrading
        raise ValueError(
            f"compact_parquet: no readable bytes under {src!r} via local "
            "listing; for remote filesystems size via the Hadoop FileSystem "
            "API and pass an explicit target layout"
        )
    n_files = max(1, round(total / (_TARGET_FILE_MB * 1024 * 1024)))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


def write_jdbc(df: DataFrame, url: str, table: str, mode: str, **options: str) -> None:
    """S5 — JDBC sink (batched prepared statements; no SQL-text building).

    Kept thin and untested-by-default: the test environment has no
    database server. The reference's equivalent is the
    PostgresOperator exec of a rendered INSERT file (reference:
    dags/etl.py:272-288).
    """
    df.write.format("jdbc").options(url=url, dbtable=table, **options).mode(mode).save()
