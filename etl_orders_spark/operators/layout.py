"""Multi-dimensional file layout: Z-order (Morton) clustering.

Why this exists at 100 TB: parquet row-group min/max statistics only
prune a scan when the file layout is correlated with the filter
column. Sorting by one column makes ITS ranges tight and every other
column's ranges full-width; interleaving the bits of several columns
(Z-ordering) makes every participating column's per-file range a
narrow band, so selective filters on ANY of them skip most row
groups. This is the same idea Delta/Iceberg expose as `OPTIMIZE
ZORDER BY`; here it is a plain DataFrame transform — bucketize each
column to `bits` levels against its global min/max, interleave bits
into one Morton key, range-partition and sort by it, then write
parquet normally.

Everything is JVM bit arithmetic (shiftleft/bitwise-or); the only
extra cost is one min/max aggregate pass and the range shuffle the
rewrite needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_Z_COL = "_zval"
# zorder_by's buckets per dimension: 2^12 = 4096
_Z_BITS = 12


def _bucketize(col: str, mn: Column, mx: Column, levels: int) -> Column:
    """Scale a numeric column to [0, levels-1] against global min/max.
    Constant columns (mx == mn) map to bucket 0."""
    span = mx - mn
    raw = F.when(
        span == 0, F.lit(0)
    ).otherwise(F.floor((F.col(col).cast("double") - mn) * (levels - 1) / span + 0.5))
    return raw.cast("long")


def zorder_value(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave `bits` low bits of each bucket column into one Morton
    key: bit b of column c lands at position b * n_cols + c, so equal
    prefixes of the key correspond to hypercubes in the column space."""
    n = len(bucket_cols)
    if bits * n > 63:
        # shiftleft wraps its shift amount mod 64 and bit 63 is the
        # sign bit — past 63 the Morton key silently corrupts (content
        # survives, clustering doesn't)
        raise ValueError(
            f"zorder_value: {bits} bits x {n} cols needs {bits * n} key bits; "
            "a long holds 63 — lower `bits` (4 cols fit at bits=15)"
        )
    pieces = [
        F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
        for b in range(bits)
        for i, c in enumerate(bucket_cols)
    ]
    z = pieces[0]
    for p in pieces[1:]:
        z = z.bitwiseOR(p)
    return z


def zorder_by(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Return `df` re-clustered so a `.write.parquet(...)` produces
    `n_files` files whose row-group min/max stats are tight on EVERY
    column in `cols`.

    One extra pass computes global min/max per column (broadcast back
    as a literal-free crossJoin — at 100 TB this is a metadata-cheap
    scan of just those columns); the rewrite itself is the range
    shuffle any compaction pays. ``_Z_BITS``=12 gives 4096 buckets per
    dimension — finer than any realistic file count, so the key order
    is effectively continuous."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_mx_{c}"),
        ]
    stats = df.agg(*aggs)
    with_stats = df.crossJoin(F.broadcast(stats))
    buckets = [
        _bucketize(c, F.col(f"_mn_{c}"), F.col(f"_mx_{c}"), 1 << _Z_BITS) for c in cols
    ]
    keyed = with_stats.withColumn(_Z_COL, zorder_value(buckets, _Z_BITS)).drop(
        *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )
    return (
        keyed.repartitionByRange(n_files, _Z_COL)
        .sortWithinPartitions(_Z_COL)
        .drop(_Z_COL)
    )


def compact_parquet_dir(
    spark,
    src: str,
    dst: str,
    target_bytes: int,
) -> dict:
    """Small-files compaction: rewrite a fragmented parquet directory
    of events into size-targeted files range-clustered on ``ts``.

    The small-files problem is the steady state of incremental
    ingest — every micro-batch lands a file per task, and a year
    later the table is millions of KB-sized files whose open/footer
    costs dominate every scan. Compaction is MAINTENANCE, not a
    query: the planner here lists the fragment files driver-side
    (bounded by file count — exactly the metadata a real table
    format keeps in its manifest), sizes the output file count from
    the REAL byte total, and rewrites once. The rewrite goes through
    ``repartitionByRange`` so compacted files are key-clustered —
    min/max row-group stats then prune scans on ``ts``, which plain
    round-robin ``repartition`` would destroy.

    At 100 TB the same operator runs per partition-directory (each
    date partition compacts independently — embarrassingly parallel
    maintenance), and the rewrite shuffle IS the cost of compaction:
    coalesce() would avoid it but cannot split oversized inputs or
    rebalance skewed ones, so read-optimized tables pay the exchange.

    Returns {n_files_in, bytes_in, n_files_out} for the caller's
    ledger."""
    import glob
    import math
    import os

    files = glob.glob(os.path.join(src, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src).repartitionByRange(n_out, F.col("ts"))
    from etl_orders_spark.sources.writers import write_parquet

    write_parquet(df, dst, mode="overwrite")
    return {"n_files_in": len(files), "bytes_in": total, "n_files_out": n_out}
