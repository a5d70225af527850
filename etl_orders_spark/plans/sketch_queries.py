"""Mergeable-sketch queries (Apache DataSketches HLL via Spark built-ins).

The 100 TB pattern these demonstrate: pre-aggregate each partition /
day / file into a tiny fixed-size sketch ONCE, persist the binary,
then answer distinct-count questions over any combination of slices by
merging sketches — never rescanning the raw data. `hll_union_agg` of
the partials is equivalent to sketching the union directly, so a
hypertable-style rollup (day → month → total) costs one map pass plus
kilobytes of shuffle, versus a full shuffle of raw keys for exact
COUNT(DISTINCT).

Sketch binaries are engine-specific, so these register rows-only (no
DuckDB hash oracle); the accuracy and mergeability contracts are
pinned in tests/test_sketch.py instead (estimate within the published
HLL error envelope of exact, union-of-partials == direct sketch,
parquet round-trip of the binary column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T

_LG_K = 12  # 2^12 buckets -> ~1.6% relative standard error, 4 KiB per sketch


@register(
    "hll_daily_users",
    None,  # sketch binaries are engine-specific: accuracy pinned in tests, not vs DuckDB
    tags=("sketch", "events", "agg"),
)
def hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users, estimated from a per-day HLL sketch,
    alongside the exact count for self-audit. One shuffle on day; the
    sketch column is what a real rollup would persist (4 KiB/day
    regardless of cardinality)."""
    ev = T(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    return (
        ev.groupBy("day")
        .agg(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(_LG_K)).alias("sk"),
            F.count_distinct("user_id").cast("long").alias("exact_users"),
        )
        .select(
            "day",
            F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
            "exact_users",
        )
        .orderBy("day")
    )


@register(
    "hll_rollup_total_users",
    None,  # engine-specific sketch binaries; mergeability pinned in tests
    tags=("sketch", "events", "agg", "rollup"),
)
def hll_rollup_total_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup: per-day sketches union-merged into one global
    estimate WITHOUT revisiting raw events — the answer a 100 TB
    deployment reads from kilobytes of persisted partials. Emits the
    merged estimate next to the direct-sketch and exact counts so the
    equivalence is visible in the output itself."""
    ev = T(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(_LG_K)).alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_merged")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(_LG_K))
        )
        .cast("long")
        .alias("est_direct"),
        F.count_distinct("user_id").cast("long").alias("exact_total"),
    )
    return merged.crossJoin(direct)


_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 256, 20
_CMS_TOKENS = (
    r"CASE WHEN regexp_replace(lower(text), '^\s+|\s+$', '', 'g') = '' "
    r"THEN CAST([] AS VARCHAR[]) "
    r"ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END"
)
_CMS_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(row AS VARCHAR) || '|' || term), 1, 8)) AS BIGINT)"
    f" % {_CMS_WIDTH}"
)


@register(
    "countmin_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT UNNEST({_CMS_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY 1
    ), rows AS (
      SELECT * FROM (VALUES (0), (1), (2), (3)) r(row)
    ), cells AS (
      SELECT row, {_CMS_BUCKET} AS bucket, CAST(SUM(exact) AS BIGINT) AS cnt
      FROM tf CROSS JOIN rows GROUP BY 1, 2
    ), top AS (
      SELECT term, exact FROM tf ORDER BY exact DESC, term LIMIT {_CMS_TOPK}
    ), probes AS (
      SELECT term, exact, row, {_CMS_BUCKET} AS bucket FROM top CROSS JOIN rows
    )
    SELECT p.term, MAX(p.exact) AS exact,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
    FROM probes p LEFT JOIN cells c USING (row, bucket)
    GROUP BY p.term
    """,
    tags=("sketch", "text", "agg"),
    bench=True,  # the sketch family's bench representative (r4)
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimation for the corpus's top terms next
    to their exact counts — est ≥ exact always (collisions only ever
    ADD), which is the guarantee a frequency-capping curation rule
    needs. Unlike the binary HLL sketches above, the md5-portable
    hashes make the whole d×w matrix oracle-checkable cell by cell.
    Scale shape: the matrix build is explode(d) + groupBy(row, bucket)
    with partial aggregation capping the shuffle at d·w cells per
    upstream partition; the 20 probes broadcast against the matrix."""
    from etl_orders_spark.functions.text import tokens
    from etl_orders_spark.operators.countmin import countmin_build, countmin_estimate
    from etl_orders_spark.operators.materialize import cache_stage

    tf = cache_stage(  # read by the sketch build AND the probe top-k
        T(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("exact")),
        "countmin_heavy_hitters.tf",
    )
    sketch = countmin_build(tf, "term", "exact", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    top = tf.orderBy(F.desc("exact"), F.asc("term")).limit(_CMS_TOPK)
    est = countmin_estimate(sketch, top, "term", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return top.join(est, "term").select("term", "exact", "est")


@register(
    "hll_event_type_overlap",
    None,  # sketch set-algebra is engine-specific; envelope pinned in tests
    tags=("sketch", "events", "agg", "setop"),
)
def hll_event_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types from HLL sketches
    alone, via inclusion-exclusion: |A∩B| ≈ est(A) + est(B) −
    est(A∪B) — the set-algebra move that answers "how many users do
    these two funnels share?" from persisted kilobyte sketches with
    no revisit of raw events. At 100 TB the per-type sketches are the
    stored rollup (one 4 KiB sketch per type per partition-grain);
    every pair's union merges two sketches driver-side-free in a tiny
    cross join of the |types|-row sketch table. The exact overlap
    (distinct-user self-join) rides along for self-audit at test
    scale — it is exactly the quadratic-shuffle computation the
    sketch form exists to avoid. Estimates clamp at 0 (inclusion-
    exclusion can go slightly negative on near-disjoint sets); the
    error envelope scales with est(A∪B), pinned in
    tests/test_sketch.py."""
    ev = T(spark, sf_dir, "events").select("event_type", "user_id")
    from etl_orders_spark.operators.materialize import cache_stage, materialize_small

    # |types| rows (category-bounded); feeds BOTH theta-join sides
    per_type = materialize_small(
        ev.groupBy("event_type").agg(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(_LG_K)).alias("sk")
        )
    )
    a = per_type.toDF("type_a", "sk_a")
    b = per_type.toDF("type_b", "sk_b")
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        F.hll_sketch_estimate("sk_a").cast("long").alias("est_a"),
        F.hll_sketch_estimate("sk_b").cast("long").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).cast("long").alias("est_union"),
    )
    pairs = pairs.withColumn(
        "est_overlap",
        F.greatest(F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long"),
    )
    # (type,user) grain; both self-join sides
    tu = cache_stage(ev.distinct(), "hll_event_type_overlap.tu")
    exact = (
        tu.toDF("type_a", "u")
        .join(tu.toDF("type_b", "u2"), (F.col("u") == F.col("u2")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    return pairs.join(exact, ["type_a", "type_b"], "left").fillna(
        0, subset=["exact_overlap"]
    ).orderBy("type_a", "type_b")
