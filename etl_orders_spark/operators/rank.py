"""Two-pass distributed global rank / running sum.

``Window.orderBy(...)`` with no partition spec funnels every row
through ONE task — correct, but a scale ceiling the moment the ranked
grain grows with the data (orders, customers, vocabulary). This
operator computes exact global ranks and running sums with no
single-partition stage, using the classic two-pass construction:

1. **Range-partition** the input on the sort key
   (``repartitionByRange`` — Spark's sampling RangePartitioner, the
   same machinery behind a distributed ORDER BY), stamping each row
   with its physical partition id.
2. **Local pass**: per-partition ``row_number`` / running sums via a
   window PARTITIONED by that id — every partition ranks its own rows
   in parallel.
3. **Offsets pass**: per-partition row counts / value totals (a
   P-row aggregate, P = partition count), prefix-summed with a window
   over those P rows — bounded by cluster layout, not by data — and
   broadcast-joined back; global rank = partition offset + local rank.

Exactness: the caller's sort key must include a unique tiebreaker so
the order is total; then offsets + local ranks equal the
single-partition answer bit-for-bit regardless of where the sampled
range boundaries fall. The audit marker column ``_tpr_pid`` is how
the fleet-wide plan test (tests/test_plans.py) recognizes the one
remaining — provably P-row — global window as vetted.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PID = "_tpr_pid"
_LRK = "_tpr_lrk"


def two_pass_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str | None = "rk",
    cumsum: Mapping[str, Column] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` (and optional running sums) over
    ``order_by`` without a single-partition window.

    ``order_by``: sort expressions forming a TOTAL order (include a
    unique tiebreaker — ties split across range partitions would
    otherwise make ranks partition-dependent, and a staged partition
    that Spark recomputes would number its rows differently).
    ``rank_col``: name for the 1-based global rank (None to skip).
    ``cumsum``: {out_col: value column} inclusive running sums in the
    same order.
    ``partitions``: range-partition count; defaults to the session's
    ``spark.sql.shuffle.partitions``.
    """
    from etl_orders_spark.operators.materialize import cache_stage

    cumsum = dict(cumsum or {})
    if rank_col is None and not cumsum:
        raise ValueError("nothing to compute: rank_col is None and cumsum is empty")
    spark = df.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if not cumsum:
        # Rank-only fast path: fold the per-partition sort INTO the
        # range exchange stage and read the local rank off
        # monotonically_increasing_id (= partitionIndex * 2^33 +
        # 0-based row sequence, assigned in the sorted row order
        # because the nondeterministic projection cannot be reordered
        # across the sort). This removes the whole PID-window pass —
        # a second full-data exchange plus a per-consumer sort in the
        # window form below. The global rank is still
        # partition offset + local rank, with offsets from the same
        # P-row aggregate.
        #
        # Spark-version assumptions this path PINS (ADVICE r11 #1),
        # valid in 3.5/4.x and guarded by tests/test_rank.py at
        # 1/7/64 partitions:
        #   - monotonically_increasing_id packs partitionIndex into
        #     bits 33+ and a 0-based per-partition sequence into the
        #     low 33 bits (MonotonicallyIncreasingID's documented
        #     layout since Spark 1.6);
        #   - a nondeterministic projection is a reorder barrier, so
        #     the id is assigned in post-sortWithinPartitions row
        #     order. The stage (filled once, before any consumer runs)
        #     does not freeze the ids: if a cached block is evicted or
        #     lost, Spark recomputes its partition and assigns the ids
        #     again. They come out the same only because ``order_by``
        #     is total (the range bounds are fixed once sampled, and a
        #     total order fixes each row's partition and its position
        #     there), so the offsets pass and the final join always
        #     agree, and a warm rebuild of the same plan reads the
        #     stage without a job.
        # A range partition holding >= 2^33 rows would overflow the
        # sequence into the PID bits and corrupt ranks SILENTLY, so
        # the offsets pass carries a runtime guard built from the
        # per-partition counts it already computes (folded into the
        # offset expression, not a droppable column, so Catalyst can
        # never prune it away).
        mid = "_tpr_mid"
        ranged = (
            df.repartitionByRange(n_part, *order_by)
            .sortWithinPartitions(*order_by)
            .withColumn(mid, F.monotonically_increasing_id())
            .withColumn(PID, F.shiftright(F.col(mid), 33).cast("int"))
        )
        ranged = cache_stage(ranged, "two_pass_rank.ranged")
        sizes = ranged.groupBy(PID).agg(F.count(F.lit(1)).alias("_tpr_cnt"))
        w_off = (
            Window.partitionBy(one_bucket(F.col(PID)))
            .orderBy(PID)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        overflow_guard = F.when(
            F.col("_tpr_cnt") < F.lit(1 << 33), F.lit(0).cast("long")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "two_pass_rank fast path: a range partition holds >= 2^33 "
                    "rows; monotonically_increasing_id's sequence would "
                    "overflow into the partition bits — raise `partitions`"
                )
            ).cast("long")
        )
        offsets = sizes.select(
            PID,
            (
                F.coalesce(F.sum("_tpr_cnt").over(w_off), F.lit(0)) + overflow_guard
            ).alias("_tpr_off"),
        )
        return (
            ranged.join(F.broadcast(offsets), PID)
            .withColumn(
                rank_col,
                (
                    F.col("_tpr_off")
                    + F.pmod(F.col(mid), F.lit(1 << 33))
                    + F.lit(1)
                ).cast("long"),
            )
            .drop(PID, mid, "_tpr_off")
        )

    # Stage the ranged frame ONCE: the local pass and the offsets
    # pass both consume it, but spark_partition_id() is
    # nondeterministic, which disqualifies the shared subtree from
    # Catalyst's exchange reuse — unstaged, the plan provably re-scans
    # the input and pays the range exchange twice (2 FileScans, 0
    # ReusedExchange at runtime). One materialized narrow projection
    # vs a second full scan is the right trade at any scale;
    # production form is the same handoff staged to parquet. (Both
    # evaluations WOULD agree — the range sampler is seeded
    # deterministically — so this is a cost fix, not a correctness
    # fix, and a keyed stage that a warm rebuild hits is enough.)
    ranged = cache_stage(
        df.repartitionByRange(n_part, *order_by).withColumn(PID, F.spark_partition_id()),
        "two_pass_rank.ranged",
    )

    # local pass — parallel per range partition
    w_loc = Window.partitionBy(PID).orderBy(*order_by)
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.withColumn(_LRK, F.row_number().over(w_loc))
    for out, col in cumsum.items():
        local = local.withColumn(f"_tpr_run_{out}", F.sum(col).over(w_run))

    # offsets pass — P rows total (bounded by partition count, not
    # data); reads the staged ranged frame, not a second scan
    sizes = ranged.groupBy(PID).agg(
        F.count(F.lit(1)).alias("_tpr_cnt"),
        *[F.sum(col).alias(f"_tpr_tot_{out}") for out, col in cumsum.items()],
    )
    # deliberate one-partition window over the P-row size table —
    # provably bounded by cluster layout (see one_bucket's docstring
    # for why the spec must be non-empty and non-foldable)
    w_off = (
        Window.partitionBy(one_bucket(F.col(PID)))
        .orderBy(PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        PID,
        F.coalesce(F.sum("_tpr_cnt").over(w_off), F.lit(0)).alias("_tpr_off"),
        *[
            F.coalesce(F.sum(f"_tpr_tot_{out}").over(w_off), F.lit(0)).alias(f"_tpr_soff_{out}")
            for out in cumsum
        ],
    )

    out_df = local.join(F.broadcast(offsets), PID)
    if rank_col is not None:
        out_df = out_df.withColumn(
            rank_col, (F.col("_tpr_off") + F.col(_LRK)).cast("long")
        )
    for out in cumsum:
        out_df = out_df.withColumn(
            out, (F.col(f"_tpr_soff_{out}") + F.col(f"_tpr_run_{out}")).cast("long")
        )
    drop = [PID, _LRK, "_tpr_off"] + [c for out in cumsum for c in (f"_tpr_run_{out}", f"_tpr_soff_{out}")]
    return out_df.drop(*drop)


def two_pass_dense_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``dense_rank`` over ``order_by`` without a
    single-partition window — the equal-keys-share-a-rank counterpart
    of :func:`two_pass_rank` (prefix-doubling suffix ranking and any
    order-isomorphic re-keying need equal sort keys to KEEP equal
    ranks, which ``row_number`` destroys).

    Same two-pass construction; two deltas make it dense-exact:

    - the local pass uses ``dense_rank`` per range partition;
    - the offsets pass counts DISTINCT sort keys per partition, not
      rows, so global rank = prior-partition distinct count + local
      dense rank.

    Exactness hinges on the RangePartitioner invariant that equal keys
    land in one partition (boundary assignment is by binary search on
    the key, so a key value never straddles two partitions): no key's
    dense run is ever split, and the composition equals the
    single-partition ``dense_rank`` bit-for-bit. ``order_by`` must be
    plain ascending column expressions — they are reused as the
    distinct-count struct, where a sort-direction wrapper would not be
    a valid struct field.
    """
    spark = df.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # same materialize-once rationale as two_pass_rank: both passes
    # consume the ranged frame, and spark_partition_id() disqualifies
    # the shared subtree from exchange reuse. A checkpoint, not a keyed
    # stage: prefix-doubling callers rank a new frame every round.
    ranged = (
        df.repartitionByRange(n_part, *order_by)
        .withColumn(PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    w_loc = Window.partitionBy(PID).orderBy(*order_by)
    local = ranged.withColumn(_LRK, F.dense_rank().over(w_loc))

    sizes = ranged.groupBy(PID).agg(
        F.count_distinct(F.struct(*order_by)).alias("_tpr_cnt")
    )
    w_off = (
        Window.partitionBy(one_bucket(F.col(PID)))
        .orderBy(PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        PID,
        F.coalesce(F.sum("_tpr_cnt").over(w_off), F.lit(0)).alias("_tpr_off"),
    )
    return (
        local.join(F.broadcast(offsets), PID)
        .withColumn(rank_col, (F.col("_tpr_off") + F.col(_LRK)).cast("long"))
        .drop(PID, _LRK, "_tpr_off")
    )


def adjacent_pairs(
    df: DataFrame,
    order_by: Sequence[Column],
    cols: Sequence[str],
    partitions: int | None = None,
) -> DataFrame:
    """Every row paired with its SUCCESSOR in the total order given by
    ``order_by`` — the distributed replacement for the classic
    rank-then-self-join-on ``rn = rn + 1`` adjacency pattern, at half
    its cost: the rank construction ALREADY range-partitions the data
    in key order, so in-partition successors fall out of one ``lead()``
    window over the ranged frame (no join, no second pass over the
    rank output), and the only rows whose successor lives elsewhere are
    the P partition-boundary rows, stitched back with a P-row broadcast.

    Output: ``cols`` plus ``{col}_next`` for each — one row per
    input row that HAS a successor (the global last row emits nothing),
    exactly the self-join's contract.

    Correctness: ``repartitionByRange`` partitions are contiguous
    spans of the total order (``order_by`` must be plain ASCENDING
    column expressions forming a total order — include a unique
    tiebreaker; they are reused as a lexicographic min_by/max_by
    struct, same constraint as :func:`two_pass_dense_rank`. The
    order keys must additionally be NON-NULL: repartitionByRange
    places nulls first while min_by/max_by SKIP rows whose struct
    ordering key is null, so a null key row could be mis-stitched at
    a partition boundary — coalesce nulls to a sentinel before
    calling, as the suffix lanes do by construction — ADVICE r11 #4),
    so the
    global successor of any non-boundary row is its in-partition
    ``lead``, and the successor of partition p's last row is the first
    row of the next NON-EMPTY partition — stitched from P-row
    first/last-per-partition aggregates (min_by/max_by, map-side
    partials, bounded by cluster layout, not data). Same
    materialize-once rationale as two_pass_rank:
    spark_partition_id() disqualifies the ranged subtree from
    exchange reuse, so it is staged once."""
    from etl_orders_spark.operators.materialize import cache_stage

    spark = df.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = cache_stage(
        df.repartitionByRange(n_part, *order_by).withColumn(PID, F.spark_partition_id()),
        "adjacent_pairs.ranged",
    )
    # in-partition successors: ONE lead() window (its PID exchange is
    # this operator's only data-sized shuffle); lead(lit(1)) is null
    # exactly on each partition's last row — a payload-null-safe
    # "has successor" marker
    w = Window.partitionBy(PID).orderBy(*order_by)
    nxt = [F.lead(c).over(w).alias(f"{c}_next") for c in cols]
    inner = (
        ranged.select(
            *cols, *nxt, F.lead(F.lit(1)).over(w).alias("_adj_has_next")
        )
        .filter(F.col("_adj_has_next").isNotNull())
        .drop("_adj_has_next")
    )
    # boundary stitching: per-partition first/last rows from one P-row
    # aggregate over the staged frame (NOT a second window pass)
    key = F.struct(*order_by)
    ends = ranged.groupBy(PID).agg(
        F.min_by(F.struct(*[F.col(c) for c in cols]), key).alias("_adj_first"),
        F.max_by(F.struct(*[F.col(c) for c in cols]), key).alias("_adj_last"),
    )
    # successor partition of p = the next non-empty pid (P-row
    # one-partition window, provably bounded by cluster layout)
    w_pid = Window.partitionBy(one_bucket(F.col(PID))).orderBy(PID)
    succ = (
        ends.select(
            PID,
            *[F.col(f"_adj_first.{c}").alias(f"{c}_next") for c in cols],
        )
        .withColumn("_adj_prev_pid", F.lag(PID).over(w_pid))
        .filter(F.col("_adj_prev_pid").isNotNull())
        .drop(PID)
    )
    lasts = ends.select(PID, *[F.col(f"_adj_last.{c}").alias(c) for c in cols])
    boundary = lasts.join(
        F.broadcast(succ), lasts[PID] == succ["_adj_prev_pid"]
    ).select(*cols, *[f"{c}_next" for c in cols])
    return inner.unionByName(boundary)


def ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` from a global rank and the row count —
    the distributed replacement for ``ntile().over(Window.orderBy(...))``
    (whose partition-less window single-tasks).

    SQL semantics: with q = n div k and r = n mod k, the first r
    buckets carry q+1 rows, the rest q — reproduced as pure integer
    arithmetic on the two-pass rank, so the bucketing matches the
    oracle's NTILE bit-for-bit. Requires a total order underneath
    (same contract as two_pass_rank)."""
    n_l = n.cast("long")
    rk_l = rk.cast("long")
    q = F.floor(n_l / F.lit(k)).cast("long")
    r = n_l - q * F.lit(k)
    big_span = r * (q + F.lit(1))  # rows covered by the wide buckets
    return F.when(
        rk_l <= big_span, F.floor((rk_l - 1) / (q + F.lit(1))).cast("long") + F.lit(1)
    ).otherwise(r + F.floor((rk_l - big_span - F.lit(1)) / q).cast("long") + F.lit(1)).cast(
        "long"
    )


def one_bucket(anchor: Column | str) -> Column:
    """Constant-zero partition key for a DELIBERATE one-partition
    window over a provably bounded grain (calendar days, nations,
    sampled centroids, distinct-count candidates).

    Semantically identical to a partition-less ``Window.orderBy`` —
    every row lands in the same partition — but the spec is non-empty
    and non-foldable (xxhash64 of a real column; a bare ``lit(0)``
    would be folded away by Catalyst), so WindowExec's "no partition
    defined" warning stays out of the logs. That warning is reserved
    as the audit signal for windows whose input GROWS with the data;
    those use :func:`two_pass_rank` instead.
    """
    a = F.col(anchor) if isinstance(anchor, str) else anchor
    return F.pmod(F.xxhash64(a), F.lit(1))
