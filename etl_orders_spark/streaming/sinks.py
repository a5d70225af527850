"""Incremental materialization sinks.

`upsert_parquet_sink` is the streaming → serving-table pattern: each
micro-batch MERGEs into a keyed parquet table via foreachBatch (the
batch function runs on the driver, so plain DataFrame code — no
pickling constraints). With a transactional format this becomes
`MERGE INTO`; over plain parquet the merged batch stages to a side
directory and renames into place, so the read and the replacement of
the serving path never overlap.

Checkpointing makes the stream restartable; the merge is idempotent
per key, so batch replay after a crash converges to the same table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from etl_orders_spark.operators.merge import merge_upsert
from etl_orders_spark.streaming.windows import DRAIN_TIMEOUT_S


def upsert_parquet_sink(
    stream: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    seq_col: str | None = None,
) -> None:
    """Drain all available input into a keyed parquet table: new keys
    append, existing keys are replaced by the latest batch's row.

    Within-batch duplicates on the key are rejected unless `seq_col`
    names an ordering column: `dropDuplicates` would keep a
    scheduling-order-dependent survivor, so a checkpoint REPLAY of the
    same batch could rebuild a different table than the original run —
    the opposite of the idempotent-replay guarantee this sink exists
    for. With `seq_col` the batch collapses to one row per key by max
    (seq_col, then the remaining columns as a struct tiebreak), a
    total order — deterministic under replay even when the sequence
    value itself ties. availableNow backlogs routinely deliver several
    updates for one key in a single micro-batch, so multi-row sources
    pass `seq_col` instead of re-implementing the sink.

    The merged batch lands in a STAGING directory and swaps in only
    after the full write succeeds, so the serving path is never read
    and deleted by the same job (a lost cached block would otherwise
    recompute lineage against files the overwrite already removed).
    The swap itself is two renames with a recovery protocol: each
    batch first repairs any interrupted predecessor (a `.retired` copy
    with no serving path is restored; a leftover `.retired` beside a
    serving path is dropped), so a crash at ANY point between renames
    replays to the same table instead of silently serving — or
    merging against — a partial state. With a transactional table
    format the merge, swap, and recovery collapse into one MERGE INTO
    commit.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        staging, retired = f"{path}.staging", f"{path}.retired"
        # crash recovery BEFORE reading the serving table: an
        # interrupted swap leaves either (retired, no path) — the
        # previous batch died between its two renames, and the retired
        # copy is the authoritative table — or (retired AND path) —
        # the swap finished but the cleanup didn't; replay merges
        # idempotently on key, so the leftover is safe to drop.
        if os.path.exists(retired):
            if os.path.exists(path):
                shutil.rmtree(retired)
            else:
                os.rename(retired, path)
        # one materialization: the dup check / collapse and the merge
        # below otherwise each re-execute the micro-batch lineage
        src = batch_df.localCheckpoint(eager=True)
        if seq_col is not None:
            others = [c for c in src.columns if c not in keys and c != seq_col]
            latest = src.groupBy(*keys).agg(
                F.max(F.struct(seq_col, *others)).alias("_latest")
            )
            src = latest.select(
                *[
                    F.col(c) if c in keys else F.col(f"_latest.{c}").alias(c)
                    for c in src.columns
                ]
            )
        else:
            dup = src.groupBy(*keys).count().filter("count > 1").limit(1).collect()
            if dup:
                raise ValueError(
                    f"upsert_parquet_sink: batch {batch_id} has multiple rows for "
                    f"key {tuple(dup[0])[:-1]}; pass seq_col= to collapse to "
                    "latest-per-key (an arbitrary survivor would make checkpoint "
                    "replay nondeterministic)"
                )
        if os.path.exists(path):
            merged = merge_upsert(spark.read.parquet(path), src, keys)
        else:
            merged = src
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(path):
            os.rename(path, retired)
        os.rename(staging, path)
        shutil.rmtree(retired, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(DRAIN_TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"upsert sink did not drain in {DRAIN_TIMEOUT_S}s")
