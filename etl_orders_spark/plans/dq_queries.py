"""Data-quality gate queries built on operators/expectations.py.

Long-form `(check_name, violations, total)` — a load gate is
`max(violations) == 0`. The driver fixtures are clean by construction,
so every row here asserts 0; the violation-counting arithmetic itself
is exercised with corrupted fixtures in tests/test_expectations.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_orders_spark.operators.expectations import (
    in_range,
    in_set,
    matches,
    not_null,
    ref_integrity,
    run_row_checks,
)
from etl_orders_spark.plans.registry import register
from etl_orders_spark.streaming.drift import N_BINS as _EPSI_BINS
from etl_orders_spark.sources.readers import load_table as T


@register(
    "dq_orders_lineitem",
    """
    SELECT 'not_null:o_orderdate' AS check_name,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM orders
    UNION ALL
    SELECT 'in_set:o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'matches:o_orderpriority',
           CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'in_range:l_quantity',
           CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'in_range:l_discount',
           CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'in_set:l_returnflag',
           CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'ref:l_orderkey->o_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    """,
    tags=("dq", "agg", "join"),
)
def dq_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load gate the reference never had: 8 expectations over
    orders+lineitem — null/set/regexp/range row checks (one
    conditional-aggregate scan per table), key uniqueness (same pass),
    and lineitem→orders referential integrity (broadcast anti-join).
    Three scans total regardless of check count."""
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    o_checks = run_row_checks(
        orders,
        [
            not_null("o_orderdate"),
            in_set("o_orderstatus", ["O", "F", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
        ],
        unique_keys=["o_orderkey"],
    )
    l_checks = run_row_checks(
        li,
        [
            in_range("l_quantity", 1, 50),
            in_range("l_discount", 0.0, 0.1),
            in_set("l_returnflag", ["A", "N", "R"]),
        ],
    )
    ri = ref_integrity(li, "l_orderkey", orders, "o_orderkey")
    return (
        o_checks.withColumnRenamed("check", "check_name")
        .unionByName(l_checks.withColumnRenamed("check", "check_name"))
        .unionByName(ri.withColumnRenamed("check", "check_name"))
    )


@register(
    "reconcile_order_totals",
    """
    WITH li AS (
      SELECT l_orderkey, CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS li_cents
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderkey,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
             COALESCE(li.li_cents, 0) AS li_cents
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ), d AS (
      SELECT o_cents, li_cents,
             ABS(o_cents - li_cents) * 1000 // GREATEST(o_cents, 1) AS rel_milli
      FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_cents = li_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN rel_milli <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(SUM(ABS(o_cents - li_cents)) AS BIGINT) AS total_abs_diff_cents
    FROM d
    """,
    tags=("dq", "reconciliation"),
)
def reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: does each order's header
    total equal the sum of its line extended prices? Reports exact
    matches, matches within 1% relative, and the absolute drift in
    cents — the double-entry audit a warehouse runs between every
    fact table and its rollup (and the check that catches partial
    loads the row-count DQ gate can't see).

    Scale: one keyed aggregate of lineitem and a co-partitioned
    orderkey join; the summary is a single conditional aggregate."""
    li = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("li_cents")
        )
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("o_cents"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_cents", F.coalesce("li_cents", F.lit(0)).alias("li_cents")
    )
    d = j.withColumn(
        "rel_milli",
        F.expr("abs(o_cents - li_cents) * 1000 div greatest(o_cents, 1)"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("o_cents") == F.col("li_cents"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("rel_milli") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_within_1pct"),
        F.sum(F.abs(F.col("o_cents") - F.col("li_cents")))
        .cast("long")
        .alias("total_abs_diff_cents"),
    )


_TABLE_KEYS = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


@register(
    "table_fingerprints",
    "\nUNION ALL\n".join(
        f"""SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT {k}) AS BIGINT) AS key_ndv,
               CAST(MIN({k}) AS BIGINT) AS key_min, CAST(MAX({k}) AS BIGINT) AS key_max
        FROM {t}"""
        for t, k in _TABLE_KEYS
    ),
    tags=("dq", "profile"),
)
def table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row fingerprint per testdata table: row count, key
    cardinality, key range — the cheap cross-table drift guard a
    pipeline snapshots every load and diffs against yesterday's
    (key_ndv < n_rows flags duplicate keys; a shifted key range flags
    a partial or doubled load). Ten independent single-pass
    aggregates unioned; each is map-side combinable and none touches
    another table's data."""
    out = None
    for t, k in _TABLE_KEYS:
        row = T(spark, sf_dir, t).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(k).cast("long").alias("key_ndv"),
            F.min(k).cast("long").alias("key_min"),
            F.max(k).cast("long").alias("key_max"),
        ).select(F.lit(t).alias("tbl"), "n_rows", "key_ndv", "key_min", "key_max")
        out = row if out is None else out.unionByName(row)
    return out


_PSI_BIN_WIDTH = 50_000  # price-bucket width; 8 bins over o_totalprice
_PSI_N_BINS = 8
_PSI_SPLIT = "1998-01-01"  # reference period before, current period after


@register(
    "dq_psi_price_drift",
    f"""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice) AS BIGINT) // {_PSI_BIN_WIDTH}, {_PSI_N_BINS - 1}) AS bin,
             CAST(SUM(CASE WHEN o_orderdate < '{_PSI_SPLIT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN o_orderdate >= '{_PSI_SPLIT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM binned
    ), m AS (
      SELECT bin, n_ref, n_cur,
             (n_ref + 1) * 1000000 // (t_ref + {_PSI_N_BINS}) AS p_ppm,
             (n_cur + 1) * 1000000 // (t_cur + {_PSI_N_BINS}) AS q_ppm,
             CAST(FLOOR(LN(CAST((n_ref + 1) * (t_cur + {_PSI_N_BINS}) AS DOUBLE)
                          / CAST((n_cur + 1) * (t_ref + {_PSI_N_BINS}) AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS lr_micro
      FROM binned CROSS JOIN tot
    )
    SELECT bin, n_ref, n_cur,
           CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm,
           lr_micro, CAST((p_ppm - q_ppm) * lr_micro AS BIGINT) AS psi_pico
    FROM m
    """,
    tags=("dq", "stats", "drift"),
)
def dq_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per price bucket — THE production
    drift gate for a feature/score distribution between a reference
    and a current period (rule of thumb: total PSI > 0.25 = reshaped
    population, investigate before trusting models/reports fed by the
    column). Σ (p_i − q_i)·ln(p_i/q_i) over fixed bins with add-one
    smoothing so an empty bin never divides by zero.

    Integer-exact cross-engine per the registry conventions: p and q
    ship as floor-ppm (pure integer arithmetic), the log-ratio floors
    to micro-nats per bin (its argument is a ratio of exact integer
    products, identically rounded to double by both engines), and the
    per-bin PSI contribution is the integer product of those two —
    psi_pico sums order-free to the total (÷10¹² for the classic
    score).

    Scale: ONE conditional-aggregation scan produces the bin table
    (map-side combinable, ≤ bins×partitions shuffle rows); the two
    grand totals re-aggregate the 8-row bin table and broadcast back
    (the audited 1-row cross-join pattern). Nothing else touches the
    fact table — drift monitoring costs one scan regardless of how
    many periods the report compares."""
    o = T(spark, sf_dir, "orders")
    split = F.lit(_PSI_SPLIT).cast("date")
    binned = (
        o.groupBy(
            F.expr(
                f"least(CAST(FLOOR(o_totalprice) AS BIGINT) div {_PSI_BIN_WIDTH}, {_PSI_N_BINS - 1})"
            ).alias("bin")
        )
        .agg(
            F.sum(F.when(F.col("o_orderdate").cast("date") < split, 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("o_orderdate").cast("date") >= split, 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    tot = binned.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    m = binned.crossJoin(F.broadcast(tot))
    p_ppm = F.expr(f"(n_ref + 1) * 1000000 div (t_ref + {_PSI_N_BINS})")
    q_ppm = F.expr(f"(n_cur + 1) * 1000000 div (t_cur + {_PSI_N_BINS})")
    lr_micro = F.floor(
        F.log(
            ((F.col("n_ref") + 1) * (F.col("t_cur") + _PSI_N_BINS)).cast("double")
            / ((F.col("n_cur") + 1) * (F.col("t_ref") + _PSI_N_BINS)).cast("double")
        )
        * F.lit(1000000.0)
    ).cast("long")
    return m.select(
        "bin",
        "n_ref",
        "n_cur",
        p_ppm.cast("long").alias("p_ppm"),
        q_ppm.cast("long").alias("q_ppm"),
        lr_micro.alias("lr_micro"),
        ((p_ppm - q_ppm) * lr_micro).cast("long").alias("psi_pico"),
    )


_EPSI_SPLIT = "2024-01-08 00:00:00"  # reference week | live remainder
_EPSI_W = 25.0


@register(
    "psi_event_value_drift_daily",
    f"""
    WITH src AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), ref AS (
      SELECT GREATEST(0, LEAST(CAST(FLOOR(value / {_EPSI_W}) AS BIGINT), {_EPSI_BINS - 1})) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_ref
      FROM src WHERE ts < TIMESTAMP '{_EPSI_SPLIT}' GROUP BY 1
    ), spine AS (
      SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(bin)
    ), reff AS (
      SELECT s.bin, COALESCE(r.n_ref, 0) AS n_ref FROM spine s LEFT JOIN ref r USING (bin)
    ), tr AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref FROM reff),
    refp AS (
      SELECT bin, n_ref, t_ref,
             (n_ref + 1) * 1000000 // (t_ref + {_EPSI_BINS}) AS p_ppm
      FROM reff CROSS JOIN tr
    ), live AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
             GREATEST(0, LEAST(CAST(FLOOR(value / {_EPSI_W}) AS BIGINT), {_EPSI_BINS - 1})) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM src WHERE ts >= TIMESTAMP '{_EPSI_SPLIT}' GROUP BY 1, 2
    ), tot AS (
      SELECT win_start, CAST(SUM(n) AS BIGINT) AS t_cur FROM live GROUP BY 1
    ), fullh AS (
      SELECT t.win_start, s.bin, COALESCE(l.n, 0) AS n, t.t_cur
      FROM tot t CROSS JOIN spine s
      LEFT JOIN live l ON l.win_start = t.win_start AND l.bin = s.bin
    ), m AS (
      SELECT win_start, bin, n AS n_cur, p_ppm,
             (n + 1) * 1000000 // (t_cur + {_EPSI_BINS}) AS q_ppm,
             CAST(FLOOR(LN(CAST((n_ref + 1) * (t_cur + {_EPSI_BINS}) AS DOUBLE)
                          / CAST((n + 1) * (t_ref + {_EPSI_BINS}) AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS lr_micro
      FROM fullh JOIN refp USING (bin)
    )
    SELECT win_start, bin, n_cur,
           CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm, lr_micro,
           CAST((p_ppm - q_ppm) * lr_micro AS BIGINT) AS psi_pico,
           CAST(SUM((p_ppm - q_ppm) * lr_micro) OVER (PARTITION BY win_start) AS BIGINT)
             AS window_psi_pico
    FROM m
    """,
    tags=("dq", "stats", "drift", "events", "streaming-twin"),
)
def psi_event_value_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor's batch form, oracle-checked: the
    first event week freezes into a reference histogram
    (streaming/drift.reference_histogram_ppm) and every later DAY of
    event `value`s scores a windowed PSI against it — the exact code
    path `streaming/drift.py` runs per micro-batch, here driven as
    one batch plan so DuckDB can certify every integer (ppm shares,
    micro-nat log-ratios, pico PSI contributions, per-window totals).
    The stream-equals-batch equivalence of the histogram stage is
    pinned separately in tests/test_streaming.py; together they close
    the loop: the driver verifies the math, the streaming test
    verifies the mode."""
    from etl_orders_spark.streaming.drift import (
        psi_from_histogram,
        reference_histogram_ppm,
        windowed_value_histogram,
    )

    ev = T(spark, sf_dir, "events")
    split = F.lit(_EPSI_SPLIT).cast("timestamp")
    reference = reference_histogram_ppm(ev.filter(F.col("ts") < split), _EPSI_W)
    hist = windowed_value_histogram(ev.filter(F.col("ts") >= split), _EPSI_W, window="1 day")
    return psi_from_histogram(hist, reference)
