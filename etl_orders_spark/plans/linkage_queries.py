"""Record linkage / entity resolution: blocked fuzzy matching.

The classic shape a warehouse user replaces a bespoke dedupe script
with: generate candidate pairs inside a BLOCK (equi-join on a coarse
key — never the O(n^2) cross join), score candidates with an edit
distance, keep pairs under a threshold. The block key is the entire
scale story: the join shuffles on it, so it must be selective enough
that the biggest block's pair count fits a task (at 100 TB: nation
alone is far too coarse — compose it with a name prefix / phonetic
key / length band; the operator shape is unchanged).

`levenshtein` is implemented natively by both Spark and DuckDB with
identical semantics, so the pair set is fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T

_MAX_DIST = 1  # edit-distance threshold for a candidate match


@register(
    "fuzzy_match_customers",
    f"""
    WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_MAX_DIST}
    """,
    tags=("linkage", "dedup", "join"),
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join over customers: candidates are generated
    by an equi-join on the block key (nation), ordered `id_a < id_b` so
    each pair appears once, then scored with native levenshtein. The
    equi conjunct keeps Catalyst on a hash/sort-merge join — the
    inequality and distance predicates are post-join filters, never a
    nested-loop driver."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
    )
    # threshold form early-abandons each DP row at dist > _MAX_DIST
    # (returns -1 instead), turning the per-pair cost from O(len²) into
    # O(len·k) — the dominant term when the block join emits millions of
    # candidate pairs
    dist = F.levenshtein("name_a", "name_b", _MAX_DIST).cast("long")
    return (
        a.join(b, "nk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _MAX_DIST))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


@register(
    "fuzzy_match_customers_fast",
    f"""
    WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_MAX_DIST}
    """,
    tags=("linkage", "dedup", "join", "lsh"),
    bench=True,  # the linkage family's bench representative (r4)
)
def fuzzy_match_customers_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fuzzy_match_customers` via a DELETION-NEIGHBORHOOD join (the
    FastSS family, Bocek et al. 2007, public knowledge): two strings
    are within edit distance 1 iff their ≤1-deletion variant sets
    intersect, so candidate generation explodes each name into its
    L+1 variants (the name itself + every single-character deletion)
    and equi-joins on (nation, xxhash64(variant)) — near-unique RARE
    keys, so the join's bucket sizes track true-match density instead
    of block size². Exact levenshtein verification runs on the
    candidates only, which makes the plan sound even under 64-bit
    variant-hash collisions (a collision only adds a candidate for
    the verifier to reject). Identical output and the identical
    DuckDB oracle as the blocked form.

    Scale: the blocked form's cost is sum(block²) — at 100 TB the
    composed block key is a tuning knob that trades recall risk for
    speed; this form needs no tuning and no quadratic term: one
    explode (L+1 rows per record, 8-byte join keys), one rare-key
    self-join, one candidate-bounded verify. The brute-block twin
    stays registered as the obviously-correct reference."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    # i = 0 keeps the string itself; i = 1..len deletes character i
    variants = F.transform(
        F.sequence(F.lit(0), F.length("c_name")),
        lambda i: F.xxhash64(
            F.when(i == F.lit(0), F.col("c_name")).otherwise(
                F.concat(
                    F.col("c_name").substr(F.lit(1), (i - F.lit(1)).cast("int")),
                    F.col("c_name").substr((i + F.lit(1)).cast("int"), F.length("c_name")),
                )
            )
        ),
    )
    from etl_orders_spark.operators.materialize import cache_stage

    # the variant index feeds BOTH self-join sides — cache it so the
    # explode computes once (keyed stage cache, optimizer-transparent)
    ex = cache_stage(
        c.select(
            F.col("c_custkey").alias("id"),
            F.col("c_nationkey").alias("nk"),
            F.explode(variants).alias("vh"),
        ).distinct(),  # repeated chars produce duplicate variants: dedup map-side
        "fuzzy_fast.variant_index",
    )
    cand = (
        ex.toDF("id_a", "nk", "vh")
        .join(ex.toDF("id_b", "nk2", "vh2"), (F.col("vh") == F.col("vh2")) & (F.col("nk") == F.col("nk2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    names = c.select(F.col("c_custkey"), F.col("c_name"))
    dist = F.levenshtein("name_a", "name_b", _MAX_DIST).cast("long")
    return (
        cand.join(names.toDF("id_a", "name_a"), "id_a")
        .join(names.toDF("id_b", "name_b"), "id_b")
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _MAX_DIST))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


# Fellegi–Sunter agreement/disagreement weights (log-odds-shaped
# integers — the exact values are a modeling choice; what the engine
# owes the user is the weighted-evidence shape, all-integer so both
# engines hash identically).
_W_NAME_STRONG, _W_NAME_WEAK, _W_NAME_MISS = 40, 15, -10
_W_SEG_HIT, _W_SEG_MISS = 8, -4
_W_BAL_HIT, _W_BAL_MISS = 6, -2
_BAL_BAND_CENTS = 50_000  # |Δacctbal| ≤ $500 counts as agreement
_FS_THRESHOLD = 20  # review threshold: strong name alone clears it (40±…),
# weak name (15) needs the segment agreement (+8) — balance agreement
# alone (15+6-4=17) is not enough


@register(
    "fs_score_customers",
    f"""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer
    ), pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             LEAST(levenshtein(a.c_name, b.c_name), 4) AS name_dist,
             CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS seg_match,
             CASE WHEN ABS(a.bal_cents - b.bal_cents) <= {_BAL_BAND_CENTS} THEN 1 ELSE 0 END AS bal_close
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b, CAST(name_dist AS BIGINT) AS name_dist,
           CAST(seg_match AS BIGINT) AS seg_match,
           CAST(bal_close AS BIGINT) AS bal_close,
           CAST(CASE WHEN name_dist <= 1 THEN {_W_NAME_STRONG}
                     WHEN name_dist <= 3 THEN {_W_NAME_WEAK}
                     ELSE {_W_NAME_MISS} END
              + CASE WHEN seg_match = 1 THEN {_W_SEG_HIT} ELSE {_W_SEG_MISS} END
              + CASE WHEN bal_close = 1 THEN {_W_BAL_HIT} ELSE {_W_BAL_MISS} END
             AS BIGINT) AS score
    FROM pairs
    WHERE CASE WHEN name_dist <= 1 THEN {_W_NAME_STRONG}
               WHEN name_dist <= 3 THEN {_W_NAME_WEAK}
               ELSE {_W_NAME_MISS} END
        + CASE WHEN seg_match = 1 THEN {_W_SEG_HIT} ELSE {_W_SEG_MISS} END
        + CASE WHEN bal_close = 1 THEN {_W_BAL_HIT} ELSE {_W_BAL_MISS} END
        >= {_FS_THRESHOLD}
    """,
    tags=("linkage", "dedup", "join"),
)
def fs_score_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter-style weighted record linkage (Fellegi & Sunter
    JASA 1969): candidate pairs from the nation block join accrue an
    integer agreement weight per evidence field — banded name edit
    distance (strong ≤1 / weak ≤3 / miss), market-segment equality,
    account-balance proximity — and pairs above the review threshold
    survive. This is the multi-evidence upgrade of the single-field
    `fuzzy_match_customers`: one field alone can't separate matches
    from coincidences, the summed log-odds-shaped weights can.

    Scale shape is identical to every blocked linkage here: the ONLY
    join is the equi-join on the block key, the distance runs
    threshold-capped (levenshtein(…, 3) early-abandons its DP row —
    dist > 3 returns -1, mapped to the same capped band the oracle
    computes with LEAST(dist, 4)), and every weight is integral so the
    score hashes identically cross-engine."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    a = c.toDF("id_a", "name_a", "nk", "seg_a", "bal_a")
    b = c.toDF("id_b", "name_b", "nk", "seg_b", "bal_b")
    d3 = F.levenshtein("name_a", "name_b", 3)
    name_dist = F.when(d3 < 0, F.lit(4)).otherwise(d3).cast("long")
    pairs = (
        a.join(b, "nk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            name_dist.alias("name_dist"),
            (F.col("seg_a") == F.col("seg_b")).cast("long").alias("seg_match"),
            (F.abs(F.col("bal_a") - F.col("bal_b")) <= _BAL_BAND_CENTS)
            .cast("long")
            .alias("bal_close"),
        )
    )
    score = (
        F.when(F.col("name_dist") <= 1, _W_NAME_STRONG)
        .when(F.col("name_dist") <= 3, _W_NAME_WEAK)
        .otherwise(_W_NAME_MISS)
        + F.when(F.col("seg_match") == 1, _W_SEG_HIT).otherwise(_W_SEG_MISS)
        + F.when(F.col("bal_close") == 1, _W_BAL_HIT).otherwise(_W_BAL_MISS)
    ).cast("long")
    return pairs.withColumn("score", score).filter(F.col("score") >= _FS_THRESHOLD)
