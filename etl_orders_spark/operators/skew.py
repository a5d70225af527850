"""Skew mitigation: salted joins for hot keys.

AQE's skew-join split (enabled in session.py) handles most skew at
runtime by splitting oversized partitions. Salting is the plan-level
fallback for pathological key distributions (one key = 30% of a
100 TB fact table): the big side spreads each key over `n_salts`
shuffle partitions via a deterministic salt; the small side replicates
each row `n_salts` times so every salted partition finds its match.
Cost: small side × n_salts; benefit: the hot key's work parallelizes
n_salts-ways instead of landing on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted `n_salts` ways.

    Each big-side row's salt is a hash of its key and a per-row
    monotonic id; any salt value yields the same join result. Output
    columns = big ∪ small minus the helper salt columns; semantics
    identical to the unsalted join for the supported how modes
    (inner/left — see the guard below).
    """
    # replicating the small side means its UNMATCHED rows would emit
    # once per salt — right/full outer semantics cannot survive salting
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "the small side is replicated n_salts times, so outer-"
            "preserving the small side would duplicate unmatched rows"
        )
    salt = F.xxhash64(F.col(big_key), F.monotonically_increasing_id())
    b = big.withColumn("_salt", F.pmod(salt, F.lit(n_salts)).cast("int"))
    s = small.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    joined = b.join(s, (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]), how)
    return joined.drop("_salt")


def cap_group_fanout(
    df: DataFrame,
    group_col: str,
    order_col: str,
    cap: int,
    distinct: bool = False,
) -> DataFrame:
    """Bound per-group width before a quadratic self-join.

    A self-join keyed on `group_col` (market baskets, co-occurrence
    candidate generation) fans out quadratically per group: one
    pathological mega-group — an order with 10k parts, a document with
    10k shingles — produces 10^8 pairs on a single reducer. This keeps
    the `cap` smallest rows of each group by `order_col` (deterministic
    tie order) and drops the tail, turning worst-case fan-out into
    cap² while leaving every group at or below `cap` untouched.

    ``distinct=True`` additionally drops duplicate (group, order) rows
    — fused into the SAME single exchange: hash partitioning on
    `group_col` already co-locates equal (group, order) pairs, so the
    dedup is a second window over the identical partitioning+sort and
    costs no extra shuffle (cheaper than a ``.distinct()`` upstream,
    which would shuffle on the full pair). Both windows compile to
    WindowGroupLimit (partial + final top-k per group), and the
    exchange they induce is the one the downstream join needs anyway.
    Same df-cap idea as the hot-shingle guard in the n-gram dedup
    index (operators/dedup.py).
    """
    out = df
    if distinct:
        # explicit repartition on group_col alone: hashpartitioning on a
        # subset of a window's partition keys satisfies its clustering,
        # so BOTH windows (and the downstream join) ride this one
        # exchange — without it the planner would partition on
        # (group, order) for the dedup window and re-shuffle for the cap
        # full-row tiebreak: within a duplicate (group, order) pair the
        # survivor's OTHER columns would otherwise be partition-order
        # lottery — nondeterministic under the repo's cross-engine
        # hash-equality convention (free when no other columns exist,
        # as at both current call sites)
        # maps (and other unorderable types) cannot appear in an order
        # spec — exclude them; their survivor values stay arbitrary,
        # which the caller accepts by carrying an unorderable column
        from pyspark.sql import types as T

        def _orderable(dt: T.DataType) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        extra = [
            f.name
            for f in out.schema.fields
            if f.name not in (group_col, order_col) and _orderable(f.dataType)
        ]
        w_d = Window.partitionBy(group_col, order_col).orderBy(order_col, *extra)
        out = (
            out.repartition(F.col(group_col))
            .withColumn("_cap_dup", F.row_number().over(w_d))
            .filter(F.col("_cap_dup") == 1)
        )
    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        out.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= cap)
        .drop("_cap_rn", *(["_cap_dup"] if distinct else []))
    )
