"""Count-min sketch: fixed-size frequency estimation for unbounded key
domains.

The 100 TB pattern (companion to the HLL rollups in
plans/sketch_queries.py): each partition/day folds its key stream into
a d×w integer matrix ONCE; matrices merge by cell-wise addition, so
any slice combination answers "how often did key k appear" from
kilobytes of persisted partials — never rescanning raw data. Estimates
only ever OVER-count (min over d rows bounds the collision error), so
heavy hitters are never missed, which is exactly the guarantee a
frequency-capping curation rule needs.

Hashes use the md5-derived portable form (operators/dedup.py) so an
external SQL oracle reproduces the sketch bit-for-bit — the whole
operator is oracle-checkable, unlike binary HLL sketches.

Shape: the matrix build is one explode(d) + groupBy(row, bucket) —
the shuffle carries at most d·w cells per upstream partition thanks to
partial aggregation, regardless of key cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(key: Column, row: Column, width: int) -> Column:
    """Portable per-row hash bucket: md5('<row>|' || key) 32-bit % w —
    seed folding identical to operators/dedup._portable_hash."""
    h = F.conv(
        F.substring(F.md5(F.concat(row.cast("string"), F.lit("|"), key)), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width))


def countmin_build(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    *,
    depth: int,
    width: int,
) -> DataFrame:
    """Fold keys (optionally pre-weighted counts) into the d×w matrix.

    Output: row, bucket, cnt (long) — only occupied cells; absent cells
    are zero. Building from pre-aggregated (key, weight) rows is
    equivalent to sketching the raw stream and shuffles far less."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    exploded = df.select(
        F.col(key_col).alias("_k"),
        w.alias("_w"),
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
    )
    return (
        exploded.select("row", _bucket(F.col("_k"), F.col("row"), width).alias("bucket"), "_w")
        .groupBy("row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int,
    width: int,
) -> DataFrame:
    """Point-estimate each key in `keys` from the sketch: min over the
    d (row, bucket) cells the key hashes to. Missing cells count 0.

    Output: key_col, est (long). The sketch is bounded at d×w occupied
    cells by construction, so it is always the broadcast side; the
    probe set streams through map-side."""
    probes = keys.select(F.col(key_col).alias("_k")).withColumn(
        "row", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    )
    probes = probes.select("_k", "row", _bucket(F.col("_k"), F.col("row"), width).alias("bucket"))
    # An outer join can only build (broadcast) its NON-preserved side:
    # probes must be preserved (a key hashing to an unoccupied cell
    # still contributes est 0), so the broadcastable side is the
    # sketch — which the d×w bound keeps small at any input scale.
    # Broadcasting the probes under right-preservation is unsupported
    # (BuildRight for a right outer join) and the hint is silently
    # dropped, degrading the lookup to a full shuffle join.
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy("_k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
        .withColumnRenamed("_k", key_col)
    )
