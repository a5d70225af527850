"""Top-k per group as a reusable operator."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(df: DataFrame, group: list[str], order: list[Column], k: int) -> DataFrame:
    """row_number ≤ k within each group. Callers must make `order`
    deterministic (include a unique key last). Spark runs this as one
    shuffle on the group key + in-partition sort; with AQE, skewed
    groups split. For global top-k use orderBy().limit() instead —
    that plans TakeOrderedAndProject (per-partition heaps, no shuffle)."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def topk_per_group_salted(
    df: DataFrame,
    group: list[str],
    order: list[Column],
    k: int,
    salt_on: str,
) -> DataFrame:
    """Top-k per group when the group column has FEW distinct values
    (e.g. language): a plain window would run one task per group no
    matter how large the input. Two phases, identical result: a local
    top-k within (group, hash(salt_on) % 32) — 32-way parallel — then
    the exact top-k over the ≤ k*32 survivors.
    The global top-k is always a subset of the per-salt top-k union, so
    no candidate is lost. The salt hash never reaches the output, so
    cross-engine portability of xxhash64 doesn't matter."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(32)))
    local = topk_per_group(salted, [*group, "_salt"], order, k).drop("_salt")
    return topk_per_group(local, group, order, k)
