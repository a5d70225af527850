"""Distribution / rank / allocation analytics: the statistical query
shapes an analyst layers on the star schema once the plain aggregates
(core_queries) exist.

The reference computes no statistics at all (its only numeric work is
carrying `Price` through joins, reference: dags/etl.py:109-122); these
generalize SURVEY.md §2.4's ABSENT aggregation rows into the
distribution-auditing surface a 100 TB warehouse actually runs:
dominance frontiers, digit-law conformance, gap interpolation, exact
integer allocation, categorical entropy, and rank correlation.

Determinism conventions follow plans/registry.py: money is integer
cents (FLOOR(x*100+0.5)), shares are integer milli/tenk units via
truncating division on non-negative operands (identical in Spark `div`
and DuckDB `//`), and every ln/log10 term is floored to an integer
unit before any further arithmetic so ulp noise cannot reach the value
hash. Window orderings always carry a unique-key tiebreak.

Scale notes (100 TB) per query are in each docstring; the shared
theme: every global (single-partition) window here runs on a table
whose size is bounded by the *domain* (distinct order counts, 9
digits, days, 25 nations, |event_type|), never by the input row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_orders_spark.functions.text import quality_score
from etl_orders_spark.operators.rank import one_bucket, two_pass_rank
from etl_orders_spark.operators.materialize import materialize_small
from etl_orders_spark.plans.registry import register
from etl_orders_spark.plans.text_queries import _QUALITY
from etl_orders_spark.sources.readers import load_table as T


def _cents(col: F.Column) -> F.Column:
    """floor(x*100 + 0.5) integer cents — bit-identical in Spark and
    DuckDB (per-row ROUND(double, 2) is not: HALF_UP vs half-even)."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# --- skyline (Pareto dominance frontier) ------------------------------------


@register(
    "skyline_customers",
    """
    WITH c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT b.o_custkey, b.n_orders, b.rev_cents
    FROM c b
    WHERE NOT EXISTS (
      SELECT 1 FROM c a
      WHERE a.n_orders >= b.n_orders AND a.rev_cents >= b.rev_cents
        AND (a.n_orders > b.n_orders OR a.rev_cents > b.rev_cents)
    )
    """,
    tags=("window", "skyline", "analytics"),
    bench=True,
)
def skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline: customers not dominated on (order count,
    total revenue) by any other customer.

    The textbook formulation is the oracle's quadratic NOT EXISTS
    self-join; the Spark plan is O(n log n) with a domain-bounded
    global step: for a fixed order count only the max-revenue pair can
    be undominated, so candidates collapse to one row per DISTINCT
    n_orders (grouped max — a map-side-combinable aggregate). The
    single-partition window then scans a table bounded by
    max-orders-per-customer (hundreds), not by customer count: sorted
    by n_orders desc, a candidate is on the skyline iff its revenue
    exceeds the running max over all strictly-higher counts. Surviving
    (n_orders, rev_cents) pairs broadcast back as a semi-join filter,
    so ties all surface and the fact-scale data is never globally
    sorted."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"),
        )
    )
    cand = c.groupBy("n_orders").agg(F.max("rev_cents").alias("rev_cents"))
    w = Window.partitionBy(one_bucket("n_orders")).orderBy(F.desc("n_orders")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        cand.withColumn("_mx", F.max("rev_cents").over(w))
        .filter(F.col("_mx").isNull() | (F.col("_mx") < F.col("rev_cents")))
        .drop("_mx")
    )
    return c.join(F.broadcast(sky), ["n_orders", "rev_cents"], "semi").select(
        "o_custkey", "n_orders", "rev_cents"
    )


# --- Benford first-digit conformance ----------------------------------------


@register(
    "benford_price_digits",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d)
    SELECT digit, n,
           CAST(n * 1000 // total AS BIGINT) AS share_milli,
           CAST(FLOOR(LOG10(1.0 + 1.0 / digit) * 1000) AS BIGINT) AS benford_milli,
           CAST(ABS(n * 1000 // total - CAST(FLOOR(LOG10(1.0 + 1.0 / digit) * 1000) AS BIGINT)) AS BIGINT) AS dev_milli
    FROM d, t
    """,
    tags=("dq", "analytics"),
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of extended prices: observed first-digit
    share vs the log10(1+1/d) expectation, as a fraud/synthetic-data
    smell test (generalizes SURVEY.md §2.4 A1/A5).

    The first significant digit is taken from the decimal string of
    integer cents — no float log on data values, so the digit is
    bit-identical across engines; log10 touches only the nine digit
    constants, floored to milli-units away from any integer boundary.
    One map-side-combinable aggregate to 9 rows; everything after is
    constant-size."""
    d = (
        T(spark, sf_dir, "lineitem")
        .select(
            F.substring(_cents(F.col("l_extendedprice")).cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = d.agg(F.sum("n").cast("long").alias("_total"))
    benford = F.floor(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")) * 1000).cast("long")
    return (
        d.crossJoin(F.broadcast(total))
        .withColumn("share_milli", F.expr("n * 1000 div _total").cast("long"))
        .withColumn("benford_milli", benford)
        .select(
            "digit",
            "n",
            "share_milli",
            "benford_milli",
            F.abs(F.col("share_milli") - F.col("benford_milli")).cast("long").alias("dev_milli"),
        )
    )


# --- gap interpolation over the day spine -----------------------------------


@register(
    "interp_daily_revenue",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ), b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    spine AS (SELECT CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
    j AS (SELECT s.day, d.rev_cents FROM spine s LEFT JOIN d ON s.day = d.day),
    f AS (
      SELECT day, rev_cents,
             LAST_VALUE(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pday,
             LAST_VALUE(rev_cents IGNORE NULLS) OVER wp AS pval,
             FIRST_VALUE(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nday,
             FIRST_VALUE(rev_cents IGNORE NULLS) OVER wn AS nval
      FROM j
      WINDOW wp AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT day,
           CAST(CASE WHEN rev_cents IS NOT NULL THEN rev_cents
                     WHEN pval IS NULL THEN nval
                     WHEN nval IS NULL THEN pval
                     ELSE (pval * (nday - day) + nval * (day - pday)) // (nday - pday)
                END AS BIGINT) AS rev_cents_filled,
           CAST(rev_cents IS NULL AS INTEGER) AS is_interp
    FROM f
    """,
    tags=("window", "timeseries", "analytics"),
)
def interp_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days in the daily-revenue
    series: build the full day spine, carry the nearest observed value
    from each side (last/first IGNORE NULLS), and fill gaps with the
    exact integer lerp (pval·(next-day) + nval·(day-prev)) div span —
    the weighted form keeps the numerator non-negative so truncating
    division matches across engines (the testdata has real gap days,
    so the interpolation branch is exercised, not vacuous).

    Scale: the fact table collapses to day grain first (the only
    fact-scale shuffle, map-side-combinable); the spine join and the
    two single-partition windows run on the day table, bounded by the
    calendar (years × 365), not by order count."""
    d = (
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"))
    )
    bounds = d.agg(F.min("day").alias("_mn"), F.max("day").alias("_mx"))
    spine = bounds.select(F.explode(F.sequence("_mn", "_mx")).alias("day"))
    j = spine.join(d, "day", "left")
    wp = Window.partitionBy(one_bucket("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy(one_bucket("day")).orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("rev_cents").isNotNull(), F.col("day"))
    f = j.select(
        "day",
        "rev_cents",
        F.last(obs_day, ignorenulls=True).over(wp).alias("pday"),
        F.last("rev_cents", ignorenulls=True).over(wp).alias("pval"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nday"),
        F.first("rev_cents", ignorenulls=True).over(wn).alias("nval"),
    )
    lerp = F.expr(
        "(pval * datediff(nday, day) + nval * datediff(day, pday)) div datediff(nday, pday)"
    )
    filled = (
        F.when(F.col("rev_cents").isNotNull(), F.col("rev_cents"))
        .when(F.col("pval").isNull(), F.col("nval"))
        .when(F.col("nval").isNull(), F.col("pval"))
        .otherwise(lerp)
    )
    return f.select(
        "day",
        filled.cast("long").alias("rev_cents_filled"),
        F.col("rev_cents").isNull().cast("int").alias("is_interp"),
    )


# --- largest-remainder integer allocation -----------------------------------


@register(
    "alloc_nation_budget",
    """
    WITH n AS (
      SELECT na.n_nationkey, na.n_name,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation na ON c.c_nationkey = na.n_nationkey
      GROUP BY 1, 2
    ), t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM n),
    b AS (
      SELECT n_nationkey, n_name, rev_cents,
             CAST(rev_cents * 10000 // total AS BIGINT) AS base,
             CAST(rev_cents * 10000 % total AS BIGINT) AS rem
      FROM n, t
    ), s AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS short FROM b)
    SELECT n_name, rev_cents,
           CAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, n_nationkey) <= short
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc_slots
    FROM b, s
    """,
    tags=("window", "allocation", "analytics"),
)
def alloc_nation_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment: allocate exactly 10,000 budget
    slots across nations proportionally to revenue — floor shares
    first, then one extra slot to the largest remainders until the
    total is exact. All arithmetic is integer (scaled div/mod on
    non-negative operands), so the allocation sums to precisely 10,000
    in both engines; remainder ties break on nation key.

    Scale: facts aggregate to 25 nation rows before any window; the
    customer join shuffles on the natural key and nation broadcasts.
    The scaled product rev_cents*10000 stays far inside int64 until
    global revenue exceeds ~9·10^14 cents per slot-unit — at which
    point the same plan runs on a coarser money unit."""
    from etl_orders_spark.operators.materialize import cache_stage

    # 25 rows out, but the fact join below feeds FOUR consumers
    # (total, base/rem, shortfall, final select): staged so the orders
    # scan runs once, not once per consumer
    n = cache_stage(
        T(spark, sf_dir, "orders")
        .join(
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(T(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents")),
        "alloc_nation_budget.n",
    )
    total = n.agg(F.sum("rev_cents").cast("long").alias("_total"))
    b = (
        n.crossJoin(F.broadcast(total))
        .withColumn("base", F.expr("rev_cents * 10000 div _total").cast("long"))
        .withColumn("rem", F.expr("rev_cents * 10000 % _total").cast("long"))
    )
    short = b.agg((F.lit(10000) - F.sum("base")).cast("long").alias("_short"))
    rk = F.row_number().over(
        Window.partitionBy(one_bucket("n_nationkey")).orderBy(F.desc("rem"), "n_nationkey")
    )
    return (
        b.crossJoin(F.broadcast(short))
        .withColumn("_rk", rk)
        .select(
            "n_name",
            "rev_cents",
            (F.col("base") + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0))
            .cast("long")
            .alias("alloc_slots"),
        )
    )


# --- categorical entropy per user -------------------------------------------


@register(
    "entropy_user_event_types",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), u AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY 1
    )
    SELECT u.user_id, u.total AS n_events, u.n_types,
           CAST(SUM(CAST(FLOOR(c.n * LN(CAST(u.total AS DOUBLE) / c.n) * 1000000.0) AS BIGINT)) // u.total AS BIGINT) AS entropy_micronats
    FROM c JOIN u ON c.user_id = u.user_id
    GROUP BY u.user_id, u.total, u.n_types
    """,
    tags=("agg", "entropy", "analytics"),
)
def entropy_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix (H = Σ p·ln 1/p),
    the behavioral-diversity signal feeding bot/anomaly detection.

    Per-term n·ln(total/n) floors to integer micro-nats BEFORE the sum
    (the registry's ln-ulp convention), then one truncating division
    by the user total — so accumulation order can't perturb the hash.
    Scale: two map-side-combinable aggregates keyed by user (the
    second reuses the first's (user_id, event_type) partitioning — no
    extra shuffle under AQE) and a user-keyed join; no global step at
    all."""
    ev = T(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    u = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    term = F.floor(
        F.col("n") * F.log(F.col("total").cast("double") / F.col("n")) * F.lit(1000000.0)
    ).cast("long")
    return (
        c.join(u, "user_id")
        .groupBy("user_id", "total", "n_types")
        .agg(F.sum(term).alias("_s"))
        .select(
            "user_id",
            F.col("total").alias("n_events"),
            "n_types",
            F.expr("_s div total").cast("long").alias("entropy_micronats"),
        )
    )


# --- chi-square independence test -------------------------------------------


@register(
    "chi2_status_priority",
    """
    WITH c AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), r AS (SELECT status, CAST(SUM(n) AS BIGINT) AS rt FROM c GROUP BY 1),
    k AS (SELECT priority, CAST(SUM(n) AS BIGINT) AS ct FROM c GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.status, c.priority, c.n,
           CAST(FLOOR(CAST(r.rt * k.ct AS DOUBLE) / total * 1000.0) AS BIGINT) AS expected_milli,
           CAST(FLOOR((c.n - CAST(r.rt * k.ct AS DOUBLE) / total)
                      * (c.n - CAST(r.rt * k.ct AS DOUBLE) / total)
                      / (CAST(r.rt * k.ct AS DOUBLE) / total) * 1000000.0) AS BIGINT) AS chi2_micro
    FROM c JOIN r ON c.status = r.status JOIN k ON c.priority = k.priority, t
    """,
    tags=("dq", "stats", "analytics"),
)
def chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the status × priority
    contingency table: per-cell observed count, expected count under
    independence (row·col/N), and the χ² contribution — the drift
    check that catches a generator or upstream filter coupling two
    supposedly independent categoricals.

    One fact-scale aggregate to |status|×|priority| cells; marginals
    and the grand total derive from the cell table (no second fact
    scan) and broadcast back. Expected values and χ² terms evaluate
    the same double expression from exact integers in both engines,
    floored to milli/micro units. rt·ct stays in int64 until N²
    exceeds ~9·10^18 — at which point the marginals move to a coarser
    unit before the product."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = materialize_small(c)  # cell table feeds marginals, total, AND the final join
    r = c.groupBy("status").agg(F.sum("n").cast("long").alias("rt"))
    k = c.groupBy("priority").agg(F.sum("n").cast("long").alias("ct"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("total")
    return (
        c.join(F.broadcast(r), "status")
        .join(F.broadcast(k), "priority")
        .crossJoin(F.broadcast(t))
        .select(
            "status",
            "priority",
            "n",
            F.floor(e * F.lit(1000.0)).cast("long").alias("expected_milli"),
            F.floor((F.col("n") - e) * (F.col("n") - e) / e * F.lit(1000000.0))
            .cast("long")
            .alias("chi2_micro"),
        )
    )


# --- two-proportion z-test (A/B) --------------------------------------------


@register(
    "abtest_conversion_ztest",
    """
    WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
      FROM events GROUP BY user_id, day, variant
    ), g AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS conv
      FROM u GROUP BY 1
    ), w AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
             MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
             MAX(CASE WHEN variant = 1 THEN n END) AS n1,
             MAX(CASE WHEN variant = 1 THEN conv END) AS c1
      FROM g
    )
    SELECT n0, c0, n1, c1,
           CAST(FLOOR((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                / SQRT(CAST(c0 + c1 AS DOUBLE) / (n0 + n1)
                       * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                       * (1.0 / n0 + 1.0 / n1)) * 1000000.0) AS BIGINT) AS z_micro
    FROM w
    """,
    tags=("stats", "events", "analytics"),
)
def abtest_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion between the
    user_id-parity variants — the A/B readout every experimentation
    stack runs. The analysis unit is the user-day (did this user
    purchase on this day): per-user "ever purchased" saturates to
    p=1 on a long-enough window, which both degenerates the pooled
    variance and is the real-world reason experiment readouts bucket
    exposure by period.

    Two map-side-combinable aggregates reduce the fact table to four
    integers; the z statistic is then constant-size double math
    (pooled-variance form), identical bitwise across engines, floored
    to micro-units. Nothing here grows with data volume except the
    first aggregate's shuffle on user_id."""
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id",
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 2).cast("long").alias("variant"),
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted")
    )
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (
        (F.col("c1").cast("double") / F.col("n1") - F.col("c0").cast("double") / F.col("n0"))
        / F.sqrt(p * (F.lit(1.0) - p) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1")))
    )
    return w.select(
        "n0", "c0", "n1", "c1", F.floor(z * F.lit(1000000.0)).cast("long").alias("z_micro")
    )


# --- exact-integer OLS trend ------------------------------------------------


@register(
    "ols_daily_revenue_trend",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    xy AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y FROM d),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM xy
    ), q AS (
      SELECT n, sy, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST((num * 1000) // den AS BIGINT) AS slope_milli_cents_per_day,
           CAST(sy // n AS BIGINT) AS mean_daily_cents
    FROM q
    """,
    tags=("stats", "timeseries", "analytics"),
)
def ols_daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of daily revenue, in exact integer
    arithmetic end-to-end: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over
    (day-index, daily-cents) pairs, emitted as truncated milli-cents
    per day. The sufficient statistics and the closed form run in
    128-bit integers (DECIMAL(38,0) / HUGEINT — n·Σxy alone clears
    int64 at sf0.1, which the 10× sweep caught), and 128-bit `div`
    truncates toward zero identically in both engines.

    x is the raw epoch day, NOT day − min(day): the slope's numerator
    and denominator are exactly shift-invariant (nΣ(x+c)y − Σ(x+c)Σy
    = nΣxy − ΣxΣy in integer algebra), so anchoring at the dataset
    minimum bought nothing and cost a second full scan of orders for
    the MIN pass — the scan audit caught it; one scan now.

    Scale: the fact table reduces to day grain (map-side-combinable),
    then one 5-integer aggregate; the regression itself is constant
    work regardless of volume. No doubles anywhere, so there is no
    accumulation-order caveat at all — this is the pattern for any
    closed-form sufficient-statistic model at 100 TB."""
    d = (
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    xy = d.select(
        F.datediff("day", F.lit("1970-01-01").cast("date")).cast("long").alias("x"), "y"
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    q = s.select(
        "n",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return q.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr("(num * 1000) div den").cast("long").alias("slope_milli_cents_per_day"),
        F.expr("sy div n").cast("long").alias("mean_daily_cents"),
    )


@register(
    "ols_nation_trend_grouped",
    """
    WITH d AS (
      SELECT n.n_name AS nation, CAST(o.o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    xy AS (SELECT nation, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y FROM d),
    s AS (
      SELECT nation,
             CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM xy GROUP BY 1
    ), q AS (
      SELECT nation, n, sy, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM s
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN den = 0 THEN NULL ELSE (num * 1000) // den END AS BIGINT)
             AS slope_milli_cents_per_day,
           CAST(sy // n AS BIGINT) AS mean_daily_cents
    FROM q
    """,
    tags=("stats", "timeseries", "analytics", "agg"),
)
def ols_nation_trend_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ols_daily_revenue_trend at the GROUPED grain: one exact-integer
    least-squares fit PER NATION, all nations in one aggregate pass —
    the pattern that fits a million per-key models at 100 TB (per-SKU
    demand trends, per-user engagement slopes) with zero driver
    involvement and no per-model job: the fact table reduces to
    (key, day) grain map-side, one shuffle keyed on the group carries
    5 sufficient statistics per key, and the closed form evaluates
    per row of the tiny result. Same DECIMAL(38,0)/HUGEINT discipline
    as the global form (n·Σxy clears int64 at modest scale); a
    single-day group emits a NULL slope on both engines instead of a
    division error."""
    d = (
        T(spark, sf_dir, "orders")
        .join(
            F.broadcast(T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(T(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    xy = d.select(
        "nation",
        F.datediff("day", F.lit("1970-01-01").cast("date")).cast("long").alias("x"),
        "y",
    )
    s = xy.groupBy("nation").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    q = s.select(
        "nation",
        "n",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return q.select(
        "nation",
        F.col("n").cast("long").alias("n_days"),
        F.when(F.col("den") == 0, F.lit(None))
        .otherwise(F.expr("(num * 1000) div den"))
        .cast("long")
        .alias("slope_milli_cents_per_day"),
        F.expr("sy div n").cast("long").alias("mean_daily_cents"),
    )


# --- Spearman rank correlation ----------------------------------------------


@register(
    "spearman_quality_length",
    f"""
    WITH r AS (
      SELECT lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ({_QUALITY}) DESC, doc_id) AS rq,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rc
      FROM documents
    ), s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM((rq - rc) * (rq - rc)) AS BIGINT) AS sd2
      FROM r GROUP BY 1
    )
    SELECT lang, n_docs, sd2,
           CAST(FLOOR((1.0 - 6.0 * sd2 / (n_docs * (n_docs * n_docs - 1))) * 10000.0) AS BIGINT) AS rho_tenk
    FROM s WHERE n_docs >= 3
    """,
    tags=("window", "stats", "text", "analytics"),
)
def spearman_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quality score and document
    length, per language — does the quality heuristic just re-rank by
    length? Ranks are ROW_NUMBER with doc_id tiebreaks (a permutation,
    so Σd² is exact integer); ρ = 1 − 6Σd²/(n(n²−1)) evaluates the
    same double expression from exact-in-double integers in both
    engines, floored to tenths-of-permille.

    Scale: both rank windows partition by lang — same shuffle key, one
    exchange; Σd² then aggregates per lang. n³ stays exact in double
    up to ~200k docs per language; beyond that the same query runs on
    a per-language sample or a wider integer unit."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", quality_score("text").alias("_q")
    )
    wq = Window.partitionBy("lang").orderBy(F.desc("_q"), "doc_id")
    wc = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    r = docs.select(
        "lang",
        F.row_number().over(wq).alias("rq"),
        F.row_number().over(wc).alias("rc"),
    )
    s = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("rq") - F.col("rc")) * (F.col("rq") - F.col("rc"))).cast("long").alias("sd2"),
    )
    rho = F.floor(
        (
            F.lit(1.0)
            - F.lit(6.0)
            * F.col("sd2")
            / (F.col("n_docs") * (F.col("n_docs") * F.col("n_docs") - 1))
        )
        * F.lit(10000.0)
    ).cast("long")
    return s.filter(F.col("n_docs") >= 3).select("lang", "n_docs", "sd2", rho.alias("rho_tenk"))


# --- winsorized robust mean -------------------------------------------------


@register(
    "winsorized_nation_revenue",
    """
    WITH o AS (
      SELECT na.n_nationkey, na.n_name, oo.o_orderkey,
             CAST(FLOOR(oo.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders oo
      JOIN customer c ON oo.o_custkey = c.c_custkey
      JOIN nation na ON c.c_nationkey = na.n_nationkey
    ), r AS (
      SELECT n_nationkey, n_name, cents,
             ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY cents, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY n_nationkey) AS n
      FROM o
    ), b AS (
      SELECT n_nationkey, n_name, CAST(MAX(n) AS BIGINT) AS n_orders,
             CAST(MAX(CASE WHEN rk = (n * 5 + 99) // 100 THEN cents END) AS BIGINT) AS p05_cents,
             CAST(MAX(CASE WHEN rk = (n * 95 + 99) // 100 THEN cents END) AS BIGINT) AS p95_cents
      FROM r GROUP BY n_nationkey, n_name
    )
    SELECT b.n_name, b.n_orders, b.p05_cents, b.p95_cents,
           CAST(SUM(LEAST(GREATEST(o.cents, b.p05_cents), b.p95_cents)) // b.n_orders AS BIGINT) AS winsor_mean_cents
    FROM o JOIN b ON o.n_nationkey = b.n_nationkey
    GROUP BY b.n_name, b.n_orders, b.p05_cents, b.p95_cents
    """,
    tags=("stats", "window", "robust", "analytics"),
    bench=True,
)
def winsorized_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order value per nation: clamp each order's
    cents into the nation's exact [p5, p95] band (rank-based
    percentiles: value at row ceil(q·n) under a keyed ordering, so no
    interpolation and no float quantiles), then a truncating integer
    mean — the outlier-robust revenue readout.

    Scale: both the rank window and the aggregate shuffle on the same
    nation key, so AQE coalesces them into one exchange; percentile
    bounds are |nations| rows broadcast back to the clamp join. The
    exact window state scales with the biggest nation's orders —
    the documented fallback for a mega-partition is approx_percentile
    with the same output schema."""
    o = (
        T(spark, sf_dir, "orders")
        .join(
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(T(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_nationkey", "n_name", "o_orderkey", _cents(F.col("o_totalprice")).alias("cents"))
    )
    wr = Window.partitionBy("n_nationkey").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("n_nationkey")
    r = o.select(
        "n_nationkey",
        "n_name",
        "cents",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = r.groupBy("n_nationkey", "n_name").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max(F.when(F.col("rk") == F.expr("(n * 5 + 99) div 100"), F.col("cents")))
        .cast("long")
        .alias("p05_cents"),
        F.max(F.when(F.col("rk") == F.expr("(n * 95 + 99) div 100"), F.col("cents")))
        .cast("long")
        .alias("p95_cents"),
    )
    return (
        o.join(F.broadcast(b.drop("n_name")), "n_nationkey")
        .groupBy("n_name", "n_orders", "p05_cents", "p95_cents")
        .agg(
            F.expr(
                "sum(least(greatest(cents, p05_cents), p95_cents)) div n_orders"
            )
            .cast("long")
            .alias("winsor_mean_cents")
        )
    )


# --- CUSUM changepoint ------------------------------------------------------


@register(
    "cusum_revenue_changepoint",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy FROM d),
    c AS (
      SELECT day,
             SUM(n * y - sy) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
      FROM d, s
    ), cp AS (
      SELECT day, CAST(ABS(st) AS BIGINT) AS cusum_scaled
      FROM c ORDER BY ABS(st) DESC, day LIMIT 1
    )
    SELECT cp.day AS changepoint_day, cp.cusum_scaled,
           CAST(SUM(CASE WHEN d.day <= cp.day THEN y END)
                // SUM(CASE WHEN d.day <= cp.day THEN 1 END) AS BIGINT) AS mean_before_cents,
           CAST(SUM(CASE WHEN d.day > cp.day THEN y END)
                // SUM(CASE WHEN d.day > cp.day THEN 1 END) AS BIGINT) AS mean_after_cents
    FROM d, cp GROUP BY cp.day, cp.cusum_scaled
    """,
    tags=("stats", "timeseries", "analytics"),
)
def cusum_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue: the day t maximizing
    |Σ_{i≤t}(y_i − ȳ)| — the classic single-changepoint estimator.
    Deviations are scaled by n (n·y_i − Σy) so the statistic stays
    exact integer with no rational mean anywhere; ties resolve to the
    earliest day; the split means report the level before/after.

    Scale: the fact table reduces to day grain first; the running sum
    is one single-partition window over the calendar-bounded day
    table, and the argmax is a TakeOrderedAndProject (top-1), not a
    global sort. n·Σy stays inside int64 past ~10^6 days × 10^12
    daily cents."""
    d = (
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    d = materialize_small(d)  # day series feeds totals, cusum walk, AND split means
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").cast("long").alias("sy")
    )
    w = Window.partitionBy(one_bucket("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.crossJoin(F.broadcast(s)).withColumn(
        "st", F.sum(F.col("n") * F.col("y") - F.col("sy")).over(w)
    )
    cp = (
        c.select("day", F.abs("st").cast("long").alias("cusum_scaled"))
        .orderBy(F.desc("cusum_scaled"), "day")
        .limit(1)
        .withColumnRenamed("day", "cp_day")
    )
    return (
        d.crossJoin(F.broadcast(cp))
        .groupBy("cp_day", "cusum_scaled")
        .agg(
            F.expr(
                "sum(CASE WHEN day <= cp_day THEN y END) div sum(CASE WHEN day <= cp_day THEN 1 END)"
            )
            .cast("long")
            .alias("mean_before_cents"),
            F.expr(
                "sum(CASE WHEN day > cp_day THEN y END) div sum(CASE WHEN day > cp_day THEN 1 END)"
            )
            .cast("long")
            .alias("mean_after_cents"),
        )
        .select(
            F.col("cp_day").alias("changepoint_day"),
            "cusum_scaled",
            "mean_before_cents",
            "mean_after_cents",
        )
    )


# --- seasonal-naive backtest ------------------------------------------------


@register(
    "seasonal_naive_backtest",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), j AS (
      SELECT a.day, a.y, p.y AS yhat
      FROM d a JOIN d p ON a.day = p.day + 7
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(ABS(y - yhat) * 1000 // y) // COUNT(*) AS BIGINT) AS mape_milli,
           CAST(SUM(y - yhat) * 1000 // SUM(y) AS BIGINT) AS bias_milli
    FROM j
    """,
    tags=("stats", "timeseries", "forecast", "analytics"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict each day
    with the value 7 days earlier): MAPE and signed bias in integer
    milli-units — the evaluation loop every forecasting pipeline runs
    before anything fancier earns its keep. The week-ago lookup is an
    equi-join on day = day+7 (calendar join, correct across gap days,
    unlike a 7-ROW lag), and every per-day error term is integer
    division on non-negative cents, so the whole metric is exact.

    Scale: day-grain reduction first; the self-join and the final
    aggregate run on the calendar-bounded day table."""
    d = (
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    p = d.select(F.date_add("day", 7).alias("day"), F.col("y").alias("yhat"))
    j = d.join(p, "day")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.expr("sum(abs(y - yhat) * 1000 div y) div count(*)")
        .cast("long")
        .alias("mape_milli"),
        F.expr("sum(y - yhat) * 1000 div sum(y)").cast("long").alias("bias_milli"),
    )


# --- Pearson correlation from sufficient statistics -------------------------


@register(
    "discount_quantity_correlation",
    """
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem
    )
    SELECT n,
           CAST(FLOOR((n * sxy - sx * sy)
                / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                   * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000.0) AS BIGINT) AS pearson_micro
    FROM s
    """,
    tags=("stats", "analytics"),
)
def discount_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between discount and quantity from the five
    sufficient statistics in one exact-integer aggregate (discount as
    integer cents, quantity integral by construction) — is the
    discount policy actually moving volume? The final r evaluates one
    identical double expression from exact-in-double integers, floored
    to micro-units.

    Scale: a single map-side-combinable aggregate; nothing after it
    grows with data. The n·Σxy products cap int64 around 10^11 rows ×
    this value range — past that the sums move to per-partition
    partials in DECIMAL(38) with the same closed form."""
    x = _cents(F.col("l_discount"))
    y = F.col("l_quantity").cast("long")
    s = T(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * y).cast("long").alias("sxy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
        )
    )
    return s.select(
        "n", F.floor(r * F.lit(1000000.0)).cast("long").alias("pearson_micro")
    )


# --- cohort LTV curve -------------------------------------------------------


@register(
    "cohort_ltv_curve",
    """
    WITH o AS (
      SELECT o_custkey, CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), firsts AS (
      SELECT o_custkey, MIN(wk) AS cohort_week FROM o GROUP BY 1
    ), sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_customers FROM firsts GROUP BY 1
    ), wkrev AS (
      SELECT f.cohort_week,
             CAST((o.wk - f.cohort_week) // 7 AS BIGINT) AS weeks_since,
             CAST(SUM(o.cents) AS BIGINT) AS rev_cents
      FROM o JOIN firsts f ON o.o_custkey = f.o_custkey
      WHERE (o.wk - f.cohort_week) // 7 <= 52
      GROUP BY 1, 2
    )
    SELECT w.cohort_week, w.weeks_since, s.n_customers,
           CAST(SUM(w.rev_cents) OVER (PARTITION BY w.cohort_week ORDER BY w.weeks_since
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents,
           CAST(SUM(w.rev_cents) OVER (PARTITION BY w.cohort_week ORDER BY w.weeks_since
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // s.n_customers AS BIGINT) AS ltv_cents
    FROM wkrev w JOIN sizes s ON w.cohort_week = s.cohort_week
    """,
    tags=("window", "cohort", "analytics"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    week, cumulative revenue per cohort over the first 52 weeks,
    normalized to per-customer LTV cents (truncating division) — the
    payback-period readout behind acquisition budgeting. Week
    arithmetic is Monday-truncated dates both engines, so
    weeks_since = (week − cohort_week)/7 is exact.

    Scale: first-order week is one keyed aggregate; the curve windows
    run on the (cohort × ≤52 weeks) grain — bounded by calendar², not
    by customers or orders."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    from etl_orders_spark.operators.materialize import cache_stage

    # customer-grain: feeds cohort sizes AND the revenue join; without
    # it the orders scan + first-order aggregate replays twice
    firsts = cache_stage(
        o.groupBy("o_custkey").agg(F.min("wk").alias("cohort_week")), "cohort_ltv_curve.firsts"
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    wkrev = (
        o.join(firsts, "o_custkey")
        .withColumn(
            "weeks_since", (F.datediff("wk", "cohort_week") / 7).cast("long")
        )
        .filter(F.col("weeks_since") <= 52)
        .groupBy("cohort_week", "weeks_since")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        wkrev.join(F.broadcast(sizes), "cohort_week")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(w).cast("long"))
        .select(
            "cohort_week",
            "weeks_since",
            "n_customers",
            "cum_rev_cents",
            F.expr("cum_rev_cents div n_customers").cast("long").alias("ltv_cents"),
        )
    )


# --- SLA latency percentiles ------------------------------------------------


@register(
    "sla_ship_latency_percentiles",
    """
    WITH l AS (
      SELECT o.o_orderpriority AS priority,
             CAST(CAST(li.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS latency_days,
             li.l_orderkey, li.l_linenumber
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
      WHERE li.l_shipdate >= o.o_orderdate
    ), r AS (
      SELECT priority, latency_days,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY latency_days, l_orderkey, l_linenumber) AS rk,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM l
    )
    SELECT priority, CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MAX(CASE WHEN rk = (n * 50 + 99) // 100 THEN latency_days END) AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rk = (n * 90 + 99) // 100 THEN latency_days END) AS BIGINT) AS p90_days,
           CAST(MAX(latency_days) AS BIGINT) AS max_days
    FROM r GROUP BY priority
    """,
    tags=("stats", "window", "sla", "analytics"),
)
def sla_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA readout per priority class: exact
    rank-based p50/p90/max of shipping delay in days — the ops
    dashboard behind "are URGENT orders actually shipping faster?".
    Negative latencies (data errors) are excluded at the scan.

    Scale: the fact⋈fact join co-partitions on orderkey; both the
    rank window and the final aggregate shuffle once on the 5-value
    priority key. 5 partitions is the definition of skew — the
    documented mega-partition fallback is approx_percentile, same
    schema."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("latency_days"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wr = Window.partitionBy("priority").orderBy("latency_days", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("priority")
    r = l.select(
        "priority",
        "latency_days",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.max(F.when(F.col("rk") == F.expr("(n * 50 + 99) div 100"), F.col("latency_days")))
        .cast("long")
        .alias("p50_days"),
        F.max(F.when(F.col("rk") == F.expr("(n * 90 + 99) div 100"), F.col("latency_days")))
        .cast("long")
        .alias("p90_days"),
        F.max("latency_days").cast("long").alias("max_days"),
    )


# --- weekday seasonality index ----------------------------------------------


@register(
    "weekday_seasonality_index",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), k AS (
      SELECT CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow_idx, y FROM d
    ), g AS (
      SELECT dow_idx, CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(y) AS BIGINT) AS sum_cents
      FROM k GROUP BY 1
    ), t AS (SELECT CAST(SUM(n_days) AS BIGINT) AS nt, CAST(SUM(sum_cents) AS BIGINT) AS st FROM g)
    SELECT dow_idx, n_days, sum_cents,
           CAST(sum_cents * nt * 1000 // (n_days * st) AS BIGINT) AS index_milli
    FROM g, t
    """,
    tags=("stats", "timeseries", "analytics"),
)
def weekday_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: each weekday's average daily revenue
    relative to the overall average, as an exact integer milli-index
    ((sum_dow · total_days · 1000) div (days_dow · total_sum) — one
    truncating division, no intermediate rational). Weekday is the
    portable epoch-modulo form ((day − 1970-01-01) % 7, 0=Thursday):
    engines disagree on DAYOFWEEK conventions, epoch arithmetic they
    cannot disagree on.

    Scale: day-grain reduction, then constant-size math on 7 rows."""
    d = (
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    g = (
        d.select(
            (F.datediff("day", F.lit("1970-01-01").cast("date")) % 7)
            .cast("long")
            .alias("dow_idx"),
            "y",
        )
        .groupBy("dow_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("y").cast("long").alias("sum_cents"),
        )
    )
    t = g.agg(
        F.sum("n_days").cast("long").alias("nt"), F.sum("sum_cents").cast("long").alias("st")
    )
    return g.crossJoin(F.broadcast(t)).select(
        "dow_idx",
        "n_days",
        "sum_cents",
        F.expr("sum_cents * nt * 1000 div (n_days * st)").cast("long").alias("index_milli"),
    )


# --- repeat-purchase interval distribution ----------------------------------


@register(
    "repeat_purchase_intervals",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, o_orderkey FROM orders
    ), iv AS (
      SELECT o_custkey,
             CAST(day - LAG(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS BIGINT) AS gap_days
      FROM o
    )
    SELECT CAST(gap_days // 7 AS BIGINT) AS gap_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM iv WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
    tags=("stats", "window", "analytics"),
)
def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of time between a customer's consecutive orders,
    bucketed by week: the repurchase-cycle histogram behind churn
    windows and re-engagement timing. One customer-keyed lag window
    (state scales with a customer's orders), then a bucket aggregate
    whose cardinality is bounded by the date span in weeks."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    iv = o.select(
        "o_custkey",
        F.datediff("day", F.lag("day").over(w)).cast("long").alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        iv.groupBy(F.expr("gap_days div 7").cast("long").alias("gap_weeks"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )


# --- Herfindahl market concentration ----------------------------------------


@register(
    "hhi_brand_concentration",
    """
    WITH b AS (
      SELECT p.p_type AS category, p.p_brand AS brand,
             CAST(SUM(CAST(FLOOR(li.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), c AS (
      SELECT category, CAST(SUM(rev_cents) AS BIGINT) AS cat_cents,
             CAST(COUNT(*) AS BIGINT) AS n_brands
      FROM b GROUP BY 1
    )
    SELECT b.category, c.n_brands, c.cat_cents,
           CAST(SUM((b.rev_cents * 10000 // c.cat_cents) * (b.rev_cents * 10000 // c.cat_cents)) AS BIGINT) AS hhi
    FROM b JOIN c ON b.category = c.category
    GROUP BY b.category, c.n_brands, c.cat_cents
    """,
    tags=("stats", "agg", "analytics"),
)
def hhi_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of brand concentration within each
    part category: Σ (brand share in basis points)², the antitrust-
    standard 0–10⁸ concentration scale (10⁸ = monopoly). Shares
    truncate to integer basis points before squaring, so the index is
    exact and the classic >2,500-points-squared screening threshold
    is directly comparable.

    Scale: unlike Gini (which needs a global rank), HHI is pure
    aggregation — lineitem⋈part co-partitions, two keyed aggregates,
    a broadcast-back of |category| totals. No sort anywhere."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    b = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("category"), F.col("p_brand").alias("brand"))
        .agg(F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("rev_cents"))
    )
    c = b.groupBy("category").agg(
        F.sum("rev_cents").cast("long").alias("cat_cents"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    share_bp = F.expr("rev_cents * 10000 div cat_cents")
    return (
        b.join(F.broadcast(c), "category")
        .groupBy("category", "n_brands", "cat_cents")
        .agg(F.sum(share_bp * share_bp).cast("long").alias("hhi"))
    )


# --- growth accounting ------------------------------------------------------


@register(
    "growth_accounting_monthly",
    """
    WITH cm AS (
      SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ), mx AS (SELECT MAX(month) AS max_month FROM cm),
    flagged AS (
      SELECT o_custkey, month, rev_cents,
             MIN(month) OVER (PARTITION BY o_custkey) AS first_month,
             LAG(month) OVER (PARTITION BY o_custkey ORDER BY month) AS prev_month,
             LEAD(month) OVER (PARTITION BY o_custkey ORDER BY month) AS next_month
      FROM cm
    ), active AS (
      SELECT month,
             CASE WHEN month = first_month THEN 'new'
                  WHEN prev_month = month - INTERVAL 1 MONTH THEN 'retained'
                  ELSE 'resurrected' END AS class,
             rev_cents
      FROM flagged
    ), churn AS (
      SELECT CAST(f.month + INTERVAL 1 MONTH AS DATE) AS month,
             'churned' AS class,
             -f.rev_cents AS rev_cents
      FROM flagged f, mx
      WHERE (f.next_month IS NULL OR f.next_month > f.month + INTERVAL 1 MONTH)
        AND CAST(f.month + INTERVAL 1 MONTH AS DATE) <= mx.max_month
    )
    SELECT month, class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
    FROM (SELECT CAST(month AS DATE) AS month, class, rev_cents FROM active
          UNION ALL SELECT month, class, rev_cents FROM churn) u
    GROUP BY month, class
    """,
    tags=("window", "growth", "analytics"),
)
def growth_accounting_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue growth accounting: every active customer-month is
    classified new (first month ever), retained (active the month
    before), or resurrected (returning after a gap); churned rows
    carry NEGATIVE revenue one month after a customer goes quiet —
    the standard MRR-movement decomposition where the classes sum to
    net revenue change. Churn months are clipped at the dataset's
    last month so the final period isn't all phantom churn.

    Scale: one customer-keyed window pass over the customer-month
    grain (state = one customer's months); the output is months ×
    4 classes."""
    cm = (
        T(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"))
    )
    from etl_orders_spark.operators.materialize import cache_stage

    # customer-month grain; feeds the max-month anchor AND the window
    # pass — staged so the fact aggregate runs once
    cm = cache_stage(cm, "growth_accounting_monthly.cm")
    mx = cm.agg(F.max("month").alias("max_month"))
    wc = Window.partitionBy("o_custkey")
    wo = wc.orderBy("month")
    flagged = cm.select(
        "o_custkey",
        "month",
        "rev_cents",
        F.min("month").over(wc).alias("first_month"),
        F.lag("month").over(wo).alias("prev_month"),
        F.lead("month").over(wo).alias("next_month"),
    )
    # consumed by BOTH the active and churn branches — without this
    # the three window functions replay per branch
    flagged = cache_stage(flagged, "growth_accounting_monthly.flagged")
    active = flagged.select(
        "month",
        F.when(F.col("month") == F.col("first_month"), "new")
        .when(F.col("prev_month") == F.add_months(F.col("month"), -1), "retained")
        .otherwise("resurrected")
        .alias("class"),
        "rev_cents",
    )
    churn = (
        flagged.crossJoin(F.broadcast(mx))
        .filter(
            (
                F.col("next_month").isNull()
                | (F.col("next_month") > F.add_months(F.col("month"), 1))
            )
            & (F.add_months(F.col("month"), 1) <= F.col("max_month"))
        )
        .select(
            F.add_months(F.col("month"), 1).alias("month"),
            F.lit("churned").alias("class"),
            (-F.col("rev_cents")).alias("rev_cents"),
        )
    )
    return (
        active.unionByName(churn)
        .groupBy("month", "class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_cents").cast("long").alias("rev_cents"),
        )
    )


# --- Gini coefficient -------------------------------------------------------


@register(
    "gini_customer_revenue",
    """
    WITH c AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), r AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS BIGINT) AS rk FROM c
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(rk AS HUGEINT) * y) AS HUGEINT) AS s1
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST((2 * s1 - (n + 1) * sy) * 1000 // (n * sy) AS BIGINT) AS gini_milli
    FROM s
    """,
    tags=("stats", "window", "analytics"),
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration via the
    rank formula G = (2Σi·yᵢ − (n+1)Σy)/(nΣy) on ascending-sorted
    integer cents — exact end-to-end, one truncating division at the
    very end. The inequality companion to the Pareto head and the HHI.

    Scale: exact global ranks come from the two-pass range-partitioned
    rank (operators/rank.py) — the customer aggregate sorts in
    parallel range partitions, no single-partition window. The
    sufficient statistics accumulate in DECIMAL(38,0) (HUGEINT on the
    oracle side): Σrk·y times the final ×1000 clears int64 already at
    sf0.1 — the 10× sweep caught the overflow — and 128-bit integer
    `div` truncates identically in both engines, so the result stays
    exact at any scale factor."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    r = two_pass_rank(c, [F.col("y"), F.col("o_custkey")], rank_col="rk").select("y", "rk")
    s = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("y")).alias("s1"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.expr("(2 * s1 - (n + 1) * sy) * 1000 div (n * sy)").cast("long").alias("gini_milli"),
    )


# --- burstiness (Fano factor) -----------------------------------------------


@register(
    "burstiness_user_activity",
    """
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM ud GROUP BY 1
    )
    SELECT user_id, n AS n_active_days, sx AS n_events,
           CAST((n * sxx - sx * sx) * 1000 // (sx * (n - 1)) AS BIGINT) AS fano_milli
    FROM s WHERE n >= 2
    """,
    tags=("stats", "events", "analytics"),
)
def burstiness_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each user's daily activity: the Fano factor
    (variance/mean of events-per-active-day) in exact integer
    milli-units — sample variance × mean⁻¹ folded into one truncating
    division, (n·Σx² − (Σx)²)·1000 div (Σx·(n−1)). ≈1000 means
    Poisson-like organic use; ≫1000 means bursts (scrapers, incident
    spikes); ≪1000 means metronomic automation. The dispersion
    companion to entropy_user_event_types in a bot-score feature set.

    Scale: two map-side-combinable aggregates keyed by user — the
    same shape (and shuffle) as every per-user feature here."""
    ud = (
        T(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    s = ud.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.filter(F.col("n") >= 2).select(
        "user_id",
        F.col("n").alias("n_active_days"),
        F.col("sx").alias("n_events"),
        F.expr("(n * sxx - sx * sx) * 1000 div (sx * (n - 1))").cast("long").alias("fano_milli"),
    )


# --- ABC classification -----------------------------------------------------


@register(
    "abc_part_classification",
    """
    WITH p AS (
      SELECT l_partkey, CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem GROUP BY 1
    ), t AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM p),
    r AS (
      SELECT l_partkey, rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // t.total AS BIGINT) AS cum_milli
      FROM p, t
    )
    SELECT CASE WHEN cum_milli <= 800 THEN 'A'
                WHEN cum_milli <= 950 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS rev_cents
    FROM r GROUP BY 1
    """,
    tags=("stats", "window", "analytics"),
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts bucketed by cumulative
    revenue share (A ≤ 80%, B ≤ 95%, C tail) — the stocking-policy
    segmentation every supply chain runs. Cumulative shares are
    integer milli via truncating division; the running sum orders by
    (revenue desc, partkey) so class boundaries are deterministic.

    Scale: same posture as pareto_customer_revenue — the running sum
    over the part-grain aggregate comes from the two-pass
    range-partitioned rank (operators/rank.py), no single-partition
    window; the output is three rows."""
    p = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("rev"))
    )
    cum = two_pass_rank(
        p, [F.col("rev").desc(), F.col("l_partkey")], rank_col=None, cumsum={"_cum": F.col("rev")}
    )
    # grand total = the FINAL cumsum, read from the rank's
    # materialized output instead of re-aggregating the lineitem scan
    t = cum.agg(F.max("_cum").cast("long").alias("_total"))
    r = cum.crossJoin(F.broadcast(t)).withColumn(
        "cum_milli", F.expr("_cum * 1000 div _total").cast("long")
    )
    cls = (
        F.when(F.col("cum_milli") <= 800, "A")
        .when(F.col("cum_milli") <= 950, "B")
        .otherwise("C")
    )
    return r.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("rev_cents"),
    )


# --- price/volume mix decomposition -----------------------------------------


@register(
    "price_volume_decomposition",
    """
    WITH li AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, p.p_type AS category,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem JOIN part p ON l_partkey = p.p_partkey
    ), mm AS (
      SELECT MAX(month) AS m1 FROM li
    ), g AS (
      SELECT category,
             CAST(SUM(CASE WHEN li.month = mm.m1 - INTERVAL 1 MONTH THEN cents ELSE 0 END) AS BIGINT) AS r0,
             CAST(SUM(CASE WHEN li.month = mm.m1 - INTERVAL 1 MONTH THEN qty ELSE 0 END) AS BIGINT) AS q0,
             CAST(SUM(CASE WHEN li.month = mm.m1 THEN cents ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN li.month = mm.m1 THEN qty ELSE 0 END) AS BIGINT) AS q1
      FROM li, mm GROUP BY 1
    )
    SELECT category, r0, r1, q0, q1,
           CAST(r1 - r0 AS BIGINT) AS delta_cents,
           CAST((q1 - q0) * (r0 * 1000 // q0) // 1000 AS BIGINT) AS volume_effect_cents,
           CAST(q1 * (r1 * 1000 // q1 - r0 * 1000 // q0) // 1000 AS BIGINT) AS price_effect_cents
    FROM g WHERE q0 > 0 AND q1 > 0
    """,
    tags=("stats", "decomposition", "analytics"),
)
def price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue-change decomposition per category:
    volume effect (quantity change at the old unit price) and price
    effect (new quantity times the unit-price change) — the "why did
    revenue move" bridge analysts build first. Unit prices are
    truncated milli-cents (r·1000 div q), so both effects are exact
    integers under a stated convention; the residual (rounding bridge)
    is delta − volume − price and its magnitude is bounded by
    q1/1000 cents.

    Scale: the lineitem⋈part join co-partitions/broadcasts; one
    conditional aggregate per category covers both months in a
    single pass (no month self-join)."""
    li = (
        T(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(T(spark, sf_dir, "part").select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
            F.col("p_type").alias("category"),
            _cents(F.col("l_extendedprice")).alias("cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    mm = li.agg(F.max("month").alias("m1"))
    j = li.crossJoin(F.broadcast(mm))
    in_m0 = F.col("month") == F.add_months(F.col("m1"), -1)
    in_m1 = F.col("month") == F.col("m1")
    g = j.groupBy("category").agg(
        F.sum(F.when(in_m0, F.col("cents")).otherwise(0)).cast("long").alias("r0"),
        F.sum(F.when(in_m0, F.col("qty")).otherwise(0)).cast("long").alias("q0"),
        F.sum(F.when(in_m1, F.col("cents")).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(in_m1, F.col("qty")).otherwise(0)).cast("long").alias("q1"),
    )
    return g.filter((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "category",
        "r0",
        "r1",
        "q0",
        "q1",
        (F.col("r1") - F.col("r0")).cast("long").alias("delta_cents"),
        F.expr("(q1 - q0) * (r0 * 1000 div q0) div 1000").cast("long").alias("volume_effect_cents"),
        F.expr("q1 * (r1 * 1000 div q1 - r0 * 1000 div q0) div 1000")
        .cast("long")
        .alias("price_effect_cents"),
    )


# --- per-customer trend classification --------------------------------------


@register(
    "customer_spend_trends",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), base AS (
      SELECT o_custkey, MIN(day) AS d0 FROM o GROUP BY 1
    ), xy AS (
      SELECT o.o_custkey, CAST(o.day - b.d0 AS BIGINT) AS x, o.cents AS y
      FROM o JOIN base b ON o.o_custkey = b.o_custkey
    ), s AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy GROUP BY 1
    ), cls AS (
      SELECT o_custkey,
             CASE WHEN n < 3 OR n * sxx - sx * sx = 0 THEN 'flat'
                  WHEN n * sxy - sx * sy > 0 THEN 'rising'
                  WHEN n * sxy - sx * sy < 0 THEN 'falling'
                  ELSE 'flat' END AS trend
      FROM s
    )
    SELECT trend, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cls GROUP BY trend
    """,
    tags=("stats", "analytics"),
)
def customer_spend_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-value trend classification (rising, falling,
    flat) from the SIGN of each customer's exact-integer OLS slope —
    the churn-risk early signal. The pattern to note for 100 TB: a
    regression per key needs NO window and NO per-key sort, just one
    groupBy collecting the five sufficient statistics, because the
    slope's sign is the sign of n·Σxy − ΣxΣy (the denominator is
    always ≥ 0). Customers with <3 orders or a single order day are
    'flat' (no meaningful trend).

    Scale: two customer-keyed aggregates and a join — the same
    shuffle the per-customer RFM features already pay."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    base = o.groupBy("o_custkey").agg(F.min("day").alias("d0"))
    xy = o.join(base, "o_custkey").select(
        "o_custkey",
        F.datediff("day", "d0").cast("long").alias("x"),
        F.col("cents").alias("y"),
    )
    s = xy.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    trend = (
        F.when((F.col("n") < 3) | (den == 0), "flat")
        .when(num > 0, "rising")
        .when(num < 0, "falling")
        .otherwise("flat")
    )
    return s.select(trend.alias("trend")).groupBy("trend").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


# --- rank churn (movers & shakers) ------------------------------------------


@register(
    "part_rank_movers",
    """
    WITH mx AS (SELECT CAST(date_trunc('month', MAX(l_shipdate)) AS DATE) AS m1 FROM lineitem),
    rev AS (
      SELECT l_partkey,
             CASE WHEN CAST(date_trunc('month', l_shipdate) AS DATE) >= mx.m1 - INTERVAL 12 MONTH
                  THEN 'recent' ELSE 'prior' END AS period,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem, mx GROUP BY 1, 2
    ), ranked AS (
      SELECT l_partkey, period, rev,
             ROW_NUMBER() OVER (PARTITION BY period ORDER BY rev DESC, l_partkey) AS rk
      FROM rev
    )
    SELECT a.l_partkey AS partkey,
           CAST(p.rk AS BIGINT) AS rank_prior, CAST(a.rk AS BIGINT) AS rank_recent,
           CAST(p.rk - a.rk AS BIGINT) AS rank_gain
    FROM ranked a JOIN ranked p
      ON a.l_partkey = p.l_partkey AND a.period = 'recent' AND p.period = 'prior'
    ORDER BY ABS(p.rk - a.rk) DESC, a.l_partkey
    LIMIT 20
    """,
    tags=("stats", "window", "topk", "analytics"),
)
def part_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movers & shakers: the 20 parts whose revenue rank shifted most
    between the trailing 12 months and everything before — rank churn
    surfaces trend breaks that absolute revenue deltas hide (a small
    part tripling matters; a giant part wobbling doesn't). Positive
    rank_gain = climbing.

    Scale: one conditional aggregate to (part, period) grain, two
    period-partitioned rank windows over the part table, then a
    GROUP-BY PIVOT to pair each part's two ranks — a self-join on the
    ranked table would replay the whole aggregate+window lineage per
    side (4 lineitem scans measured; exchange reuse does not unify
    the re-filtered branches), while the pivot reads it once. Top-20
    is TakeOrderedAndProject."""
    mx = T(spark, sf_dir, "lineitem").agg(
        F.date_trunc("month", F.max("l_shipdate")).cast("date").alias("m1")
    )
    rev = (
        T(spark, sf_dir, "lineitem")
        .crossJoin(F.broadcast(mx))
        .groupBy(
            "l_partkey",
            F.when(
                F.date_trunc("month", "l_shipdate").cast("date")
                >= F.add_months(F.col("m1"), -12),
                "recent",
            )
            .otherwise("prior")
            .alias("period"),
        )
        .agg(F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("rev"))
    )
    w = Window.partitionBy("period").orderBy(F.desc("rev"), "l_partkey")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    paired = ranked.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.max(F.when(F.col("period") == "recent", F.col("rk"))).cast("long").alias("rank_recent"),
        F.max(F.when(F.col("period") == "prior", F.col("rk"))).cast("long").alias("rank_prior"),
    )
    return (
        paired.filter(F.col("rank_recent").isNotNull() & F.col("rank_prior").isNotNull())
        .select(
            "partkey",
            "rank_prior",
            "rank_recent",
            (F.col("rank_prior") - F.col("rank_recent")).cast("long").alias("rank_gain"),
        )
        .orderBy(F.abs(F.col("rank_gain")).desc(), "partkey")
        .limit(20)
    )


# --- weighted median --------------------------------------------------------


@register(
    "weighted_median_price_by_priority",
    """
    WITH l AS (
      SELECT o.o_orderpriority AS priority,
             CAST(FLOOR(li.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(li.l_quantity AS BIGINT) AS w,
             li.l_orderkey, li.l_linenumber
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
    ), r AS (
      SELECT priority, cents, w,
             SUM(w) OVER (PARTITION BY priority ORDER BY cents, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY priority) AS tw
      FROM l
    )
    SELECT priority, CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT) AS wmedian_cents
    FROM r GROUP BY priority
    """,
    tags=("stats", "window", "analytics"),
)
def weighted_median_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per priority class: the
    first value whose running weight reaches half the total (lower
    weighted median, integer-exact via 2·cw ≥ tw — no halving
    division). Weighted medians answer "what does the typical UNIT
    sell at" where the unweighted median answers "the typical LINE" —
    they diverge whenever big-quantity lines price differently.

    Scale: same keyed-window posture as the percentile family — one
    shuffle on the 5-value priority key, with the approx fallback for
    a mega-partition."""
    l = (
        T(spark, sf_dir, "lineitem")
        .join(
            T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            _cents(F.col("l_extendedprice")).alias("cents"),
            F.col("l_quantity").cast("long").alias("w"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wc = Window.partitionBy("priority").orderBy("cents", "l_orderkey", "l_linenumber").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("priority")
    r = l.select(
        "priority",
        "cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return r.groupBy("priority").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
    )


# --- two-sample Kolmogorov-Smirnov ------------------------------------------


def _urgent_low_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-value grain of URGENT (group 1) vs LOW (group 2) order
    values: (cents, d1, d2) occurrence counts per group."""
    s = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(2).alias("grp"),
            _cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    return s.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).cast("long").alias("d2"),
    )


@register(
    "ks_price_urgent_vs_low",
    """
    WITH s AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), n AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM s
    ), v AS (
      SELECT cents,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM s GROUP BY cents
    ), c AS (
      SELECT cents,
             SUM(d1) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(d2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM v
    )
    SELECT n.n1, n.n2,
           CAST(MAX(ABS(c1 * n.n2 - c2 * n.n1)) * 1000 // (n.n1 * n.n2) AS BIGINT) AS ks_milli
    FROM c, n GROUP BY n.n1, n.n2
    """,
    tags=("stats", "analytics"),
)
def ks_price_urgent_vs_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between URGENT and LOW
    order-value distributions: D = max |F₁ − F₂|, computed exactly as
    max |c₁·n₂ − c₂·n₁| over the merged sorted sample (the cross-
    multiplied form keeps everything integer until one final
    truncating division). D ≈ 0 means priority doesn't shift the
    money distribution at all.

    The ECDF steps are evaluated on the DISTINCT-value grain (counts
    per value first, then the ordered cumsum) — tie-free by
    construction, where a row-level cumsum would make intermediate
    values depend on engine-specific ordering within equal-value
    runs. Scale: the ordered cumsum over distinct values runs through
    the two-pass range-partitioned rank (operators/rank.py) — no
    single-partition window even when distinct-value cardinality
    approaches row cardinality; the binned ECDF (value histogram)
    remains the documented approximation when even the value grain
    must shrink."""
    v = _urgent_low_value_counts(spark, sf_dir)
    c = two_pass_rank(
        v, [F.col("cents")], rank_col=None, cumsum={"c1": F.col("d1"), "c2": F.col("d2")}
    ).select("c1", "c2")
    # group sizes are the FINAL cumsums — read them from the rank's
    # already-materialized output instead of paying a second orders
    # scan for the same two counts
    n = c.agg(F.max("c1").cast("long").alias("n1"), F.max("c2").cast("long").alias("n2"))
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.expr("max(abs(c1 * n2 - c2 * n1)) * 1000 div (n1 * n2)")
            .cast("long")
            .alias("ks_milli")
        )
        .select("n1", "n2", "ks_milli")
    )


# --- Mann-Whitney U / AUC ---------------------------------------------------


@register(
    "mannwhitney_price_urgent_vs_low",
    """
    WITH s AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), v AS (
      SELECT cents,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM s GROUP BY cents
    ), c AS (
      SELECT d1, d2,
             SUM(d1 + d2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM v
    ), agg AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2,
             CAST(SUM(d1 * (2 * cum - (d1 + d2) + 1)) AS BIGINT) AS r1_x2
      FROM c
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST((r1_x2 - n1 * (n1 + 1)) * 1000 // (2 * n1 * n2) AS BIGINT) AS auc_milli
    FROM agg
    """,
    tags=("stats", "analytics"),
)
def mannwhitney_price_urgent_vs_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between URGENT and LOW order values, exactly:
    average ranks on the distinct-value grain give the doubled rank
    sum 2R₁ = Σ d₁·(2c − d + 1) as a pure integer (the ×2 absorbs the
    tie half-ranks), and U₁/(n₁n₂) — reported in milli — is the
    AUC-style effect size P(X₁>X₂) + ½P(tie). The nonparametric
    companion to the KS statistic: KS asks "any distribution shift?",
    U asks "is one stochastically larger?".

    Scale: identical machinery to ks_price_urgent_vs_low — value-
    grain aggregate, the ordered cumsum via the two-pass
    range-partitioned rank (operators/rank.py), a constant-size final
    reduction; same binned-ECDF fallback."""
    v = _urgent_low_value_counts(spark, sf_dir)
    c = two_pass_rank(
        v, [F.col("cents")], rank_col=None, cumsum={"cum": F.col("d1") + F.col("d2")}
    ).select("d1", "d2", "cum")
    agg = c.agg(
        F.sum("d1").cast("long").alias("n1"),
        F.sum("d2").cast("long").alias("n2"),
        F.sum(F.col("d1") * (2 * F.col("cum") - (F.col("d1") + F.col("d2")) + 1))
        .cast("long")
        .alias("r1_x2"),
    )
    return agg.select(
        "n1",
        "n2",
        F.expr("r1_x2 - n1 * (n1 + 1)").cast("long").alias("u1_x2"),
        F.expr("(r1_x2 - n1 * (n1 + 1)) * 1000 div (2 * n1 * n2)")
        .cast("long")
        .alias("auc_milli"),
    )


# --- lag-7 autocorrelation --------------------------------------------------


@register(
    "autocorr_weekly_revenue",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) // 1000 AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), p AS (
      SELECT a.y AS x, b.y AS z
      FROM d a JOIN d b ON a.day = b.day + 7
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
             CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz
      FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(FLOOR(CAST(n * sxz - sx * sz AS DOUBLE)
                / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                   * SQRT(CAST(n * szz - sz * sz AS DOUBLE))) * 1000000.0) AS BIGINT) AS acf7_micro
    FROM s
    """,
    tags=("stats", "timeseries", "analytics"),
)
def autocorr_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of daily revenue: Pearson r between each
    day and the same weekday a week earlier, via the calendar
    self-join (gap-correct) and the five-sum sufficient-statistic
    form — the one-number test for weekly seasonality that justifies
    (or kills) the seasonal-naive forecaster and the weekday index.
    Daily values truncate to kilocent units first: Σy² on raw cents
    overflows int64 once daily revenue passes ~10⁶ cents × 2,400
    days, and the correlation is invariant to the unit anyway (the
    truncation itself perturbs r below the floored micro digit).

    Scale: day-grain reduction then a calendar-bounded self-join and
    one constant-size aggregate; the final r is one identical double
    expression floored to micro-units."""
    from etl_orders_spark.operators.materialize import cache_stage

    # both sides of the lag-7 self-join read this day-grain table:
    # materialize the full-orders aggregate once (reuse=2 — the scan
    # audit flagged the replayed fact scan)
    d = cache_stage(
        T(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.expr(
            "CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) div 1000 AS BIGINT)"
        ).alias("y")),
        "autocorr_weekly_revenue.d",
    )
    b = d.select(F.date_add("day", 7).alias("day"), F.col("y").alias("z"))
    p = d.join(b, "day").select(F.col("y").alias("x"), "z")
    s = p.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("z").cast("decimal(38,0)")).alias("sz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("z")).alias("sxz"),
    )
    # sufficient statistics stay 128-bit exact (n·Σxz clears int64 at
    # sf0.1); only the final closed form drops to double, identically
    # rounded from the same exact integers on both engines
    r = (
        (F.col("n") * F.col("sxz") - F.col("sx") * F.col("sz")).cast("double")
        / (
            F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            * F.sqrt((F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")).cast("double"))
        )
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.floor(r * F.lit(1000000.0)).cast("long").alias("acf7_micro"),
    )


# --- Cramér's V -------------------------------------------------------------


@register(
    "cramers_v_status_priority",
    """
    WITH c AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), r AS (SELECT s, CAST(SUM(n) AS BIGINT) AS rt FROM c GROUP BY 1),
    k AS (SELECT p, CAST(SUM(n) AS BIGINT) AS ct FROM c GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(DISTINCT s) AS BIGINT) AS nr,
                 CAST(COUNT(DISTINCT p) AS BIGINT) AS nc
          FROM c),
    chi AS (
      SELECT SUM((c.n - CAST(r.rt * k.ct AS DOUBLE) / t.total)
                 * (c.n - CAST(r.rt * k.ct AS DOUBLE) / t.total)
                 / (CAST(r.rt * k.ct AS DOUBLE) / t.total)) AS chi2,
             MAX(t.total) AS total, MAX(t.nr) AS nr, MAX(t.nc) AS nc
      FROM c JOIN r ON c.s = r.s JOIN k ON c.p = k.p, t
    )
    SELECT CAST(total AS BIGINT) AS n_orders,
           CAST(FLOOR(SQRT(chi2 / (total * (LEAST(nr, nc) - 1))) * 1000000.0) AS BIGINT) AS cramers_v_micro
    FROM chi
    """,
    tags=("stats", "dq", "analytics"),
)
def cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the status × priority table: the χ² association
    normalized to [0,1] (V = √(χ²/(N·(min(r,c)−1)))) — the number an
    analyst actually compares across tables, where raw χ² scales with
    N. Complements chi2_status_priority's per-cell detail with the
    one-number summary.

    Determinism: the χ² accumulation is a SUM of identical double
    terms — term-order noise exists in the last ulps, so V floors to
    micro after a √ that contracts error; the micro digit is stable
    because χ²/N here sits far from any floor boundary (and the same
    expression tree runs in both engines). Scale: cell-grain
    aggregates only."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = materialize_small(c)  # cell table feeds marginals, total, AND the chi2 join
    r = c.groupBy("s").agg(F.sum("n").cast("long").alias("rt"))
    k = c.groupBy("p").agg(F.sum("n").cast("long").alias("ct"))
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.countDistinct("s").cast("long").alias("nr"),
        F.countDistinct("p").cast("long").alias("nc"),
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("total")
    chi = (
        c.join(F.broadcast(r), "s")
        .join(F.broadcast(k), "p")
        .crossJoin(F.broadcast(t))
        .agg(
            F.sum((F.col("n") - e) * (F.col("n") - e) / e).alias("chi2"),
            F.max("total").alias("total"),
            F.max("nr").alias("nr"),
            F.max("nc").alias("nc"),
        )
    )
    v = F.sqrt(
        F.col("chi2") / (F.col("total") * (F.least(F.col("nr"), F.col("nc")) - 1))
    )
    return chi.select(
        F.col("total").cast("long").alias("n_orders"),
        F.floor(v * F.lit(1000000.0)).cast("long").alias("cramers_v_micro"),
    )


# --- revenue by order-size decile -------------------------------------------


@register(
    "revenue_by_order_decile",
    """
    WITH o AS (
      SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk,
             COUNT(*) OVER () AS n
      FROM o
    ), t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM o)
    SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS rev_cents,
           CAST(SUM(cents) * 1000 // t.total AS BIGINT) AS share_milli
    FROM r, t GROUP BY 1, t.total
    """,
    tags=("stats", "window", "analytics"),
)
def revenue_by_order_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the money lives: orders bucketed into value deciles
    (equal-count, rank-based) with each decile's revenue share in
    milli — the one-table answer to "do small orders matter?".
    Bucket = (rank−1)·10 div n is exact and gap-tolerant.

    Scale: ranks come from the two-pass range-partitioned rank
    (operators/rank.py) — no single-partition window anywhere; the
    order grain sorts in parallel range partitions and only a P-row
    offsets table is prefix-summed."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    r = two_pass_rank(o, [F.col("cents"), F.col("o_orderkey")], rank_col="rk")
    # totals from the rank's materialized output — aggregating `o`
    # directly would replay the orders scan a second time
    t = r.agg(
        F.sum("cents").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        r.crossJoin(F.broadcast(t))
        .groupBy(F.expr("(rk - 1) * 10 div n").cast("long").alias("decile"), "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .select(
            "decile",
            "n_orders",
            "rev_cents",
            F.expr("rev_cents * 1000 div total").cast("long").alias("share_milli"),
        )
    )


# --- concentration trend ----------------------------------------------------


@register(
    "concentration_trend_yearly",
    """
    WITH cy AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr, o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2
    ), r AS (
      SELECT yr, rev,
             ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev DESC, o_custkey) AS rk,
             COUNT(*) OVER (PARTITION BY yr) AS n,
             SUM(rev) OVER (PARTITION BY yr) AS total
      FROM cy
    )
    SELECT yr, CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN rk * 10 <= n THEN rev ELSE 0 END) * 1000 // MAX(total) AS BIGINT) AS top_decile_share_milli
    FROM r GROUP BY yr
    """,
    tags=("stats", "window", "timeseries", "analytics"),
)
def concentration_trend_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-concentration trend: the revenue share of each year's
    top-10% customers — is the business getting more dependent on its
    whales? The time-sliced companion to Gini/Pareto (a single global
    coefficient hides drift).

    Scale: per-year rank windows partition by year — bounded state
    per partition is the year's customer aggregate; the top-decile
    membership test rk·10 ≤ n is pure integers."""
    cy = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            "o_custkey",
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev"))
    )
    wy = Window.partitionBy("yr")
    wr = wy.orderBy(F.desc("rev"), "o_custkey")
    r = cy.select(
        "yr",
        "rev",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wy).alias("n"),
        F.sum("rev").over(wy).alias("total"),
    )
    return r.groupBy("yr").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.expr(
            "sum(CASE WHEN rk * 10 <= n THEN rev ELSE 0 END) * 1000 div max(total)"
        )
        .cast("long")
        .alias("top_decile_share_milli"),
    )


# --- one-pass correlation matrix --------------------------------------------

_CORR_PAIRS = (
    ("qty", "price"),
    ("qty", "disc"),
    ("qty", "tax"),
    ("price", "disc"),
    ("price", "tax"),
    ("disc", "tax"),
)


def _corr_micro_sql(a: str, b: str) -> str:
    # products evaluate in DOUBLE on both engines (identical rounding);
    # pure int64 would overflow at n*sum(price^2), and DuckDB's int128
    # would otherwise diverge from Spark's double path in the last ulp
    return (
        f"CAST(FLOOR((CAST(n AS DOUBLE) * s_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})"
        f" / (SQRT(CAST(n AS DOUBLE) * s_{a}_{a} - CAST(s_{a} AS DOUBLE) * s_{a})"
        f" * SQRT(CAST(n AS DOUBLE) * s_{b}_{b} - CAST(s_{b} AS DOUBLE) * s_{b})) * 1000000.0) AS BIGINT)"
    )


@register(
    "correlation_matrix_lineitem",
    """
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS price,
             CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc,
             CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT) AS tax
      FROM lineitem
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qty) AS BIGINT) AS s_qty, CAST(SUM(price) AS BIGINT) AS s_price,
             CAST(SUM(disc) AS BIGINT) AS s_disc, CAST(SUM(tax) AS BIGINT) AS s_tax,
             CAST(SUM(qty * qty) AS BIGINT) AS s_qty_qty,
             CAST(SUM(price * price) AS BIGINT) AS s_price_price,
             CAST(SUM(disc * disc) AS BIGINT) AS s_disc_disc,
             CAST(SUM(tax * tax) AS BIGINT) AS s_tax_tax,
             CAST(SUM(qty * price) AS BIGINT) AS s_qty_price,
             CAST(SUM(qty * disc) AS BIGINT) AS s_qty_disc,
             CAST(SUM(qty * tax) AS BIGINT) AS s_qty_tax,
             CAST(SUM(price * disc) AS BIGINT) AS s_price_disc,
             CAST(SUM(price * tax) AS BIGINT) AS s_price_tax,
             CAST(SUM(disc * tax) AS BIGINT) AS s_disc_tax
      FROM v
    )
    SELECT 'qty' AS col_a, 'price' AS col_b, {qp} AS r_micro FROM s
    UNION ALL SELECT 'qty', 'disc', {qd} FROM s
    UNION ALL SELECT 'qty', 'tax', {qt} FROM s
    UNION ALL SELECT 'price', 'disc', {pd} FROM s
    UNION ALL SELECT 'price', 'tax', {pt} FROM s
    UNION ALL SELECT 'disc', 'tax', {dt} FROM s
    """.format(
        qp=_corr_micro_sql("qty", "price"),
        qd=_corr_micro_sql("qty", "disc"),
        qt=_corr_micro_sql("qty", "tax"),
        pd=_corr_micro_sql("price", "disc"),
        pt=_corr_micro_sql("price", "tax"),
        dt=_corr_micro_sql("disc", "tax"),
    ),
    tags=("stats", "profile", "analytics"),
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson matrix over lineitem's numeric measures
    (quantity, price-in-dollars, discount, tax) in ONE scan: a single
    aggregate collects all 14 sufficient sums, then each of the six
    correlations is constant-size double math floored to micro-units.
    This is the one-pass trick that makes a wide-table correlation
    audit O(columns²) CPU but O(1) scans — the multi-pair sibling of
    the profile operator.

    The 14 sums stay exact int64 (price truncated to dollars keeps
    Σprice² inside range); the final n·Σ products evaluate in DOUBLE
    on both engines at identical expression positions — n·Σprice²
    exceeds both int64 and double's exact range, so the invariant
    that matters is same-rounding, not exactness, and IEEE gives
    exactly that. Correlations are unit-invariant so the dollar
    truncation loses nothing."""
    v = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long").alias("price"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("disc"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long").alias("tax"),
    )
    cols = ["qty", "price", "disc", "tax"]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(c).cast("long").alias(f"s_{c}") for c in cols]
    seen = set()
    for a in cols:
        for b in cols:
            key = tuple(sorted((a, b)))
            if key in seen:
                continue
            seen.add(key)
            aggs.append(F.sum(F.col(a) * F.col(b)).cast("long").alias(f"s_{a}_{b}"))
    s = v.agg(*aggs)

    def r_micro(a: str, b: str) -> F.Column:
        ab = f"s_{a}_{b}" if f"s_{a}_{b}" in s.columns else f"s_{b}_{a}"

        def dd(name: str) -> F.Column:
            return F.col(name).cast("double")

        num = dd("n") * F.col(ab) - dd(f"s_{a}") * F.col(f"s_{b}")
        da = dd("n") * F.col(f"s_{a}_{a}") - dd(f"s_{a}") * F.col(f"s_{a}")
        db = dd("n") * F.col(f"s_{b}_{b}") - dd(f"s_{b}") * F.col(f"s_{b}")
        return F.floor(num / (F.sqrt(da) * F.sqrt(db)) * F.lit(1000000.0)).cast("long")

    # row-local explode of the 1-row sufficient-stats aggregate: a
    # union of 6 projections re-runs the full 15-sum aggregate per
    # branch (measured 6 lineitem scans in the runtime plan)
    return s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        r_micro(a, b).alias("r_micro"),
                    )
                    for a, b in _CORR_PAIRS
                ]
            )
        ).alias("e")
    ).select("e.*")


# --- order-sequence uplift --------------------------------------------------


@register(
    "order_sequence_uplift",
    """
    WITH r AS (
      SELECT o_custkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS seq
      FROM orders
    )
    SELECT CAST(seq AS BIGINT) AS order_seq,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
    FROM r WHERE seq <= 5 GROUP BY seq
    """,
    tags=("stats", "window", "analytics"),
)
def order_sequence_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean order value by order sequence number (1st, 2nd, … 5th
    order per customer): do customers spend more as they mature? The
    repeat-purchase economics curve next to cohort LTV. One
    customer-keyed rank window and a 5-row aggregate; truncating
    integer means."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = T(spark, sf_dir, "orders").select(
        _cents(F.col("o_totalprice")).alias("cents"),
        F.row_number().over(w).alias("seq"),
    )
    return (
        r.filter(F.col("seq") <= 5)
        .groupBy(F.col("seq").cast("long").alias("order_seq"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr("sum(cents) div count(*)").cast("long").alias("mean_cents"),
        )
    )


# --- monthly return rate ----------------------------------------------------


@register(
    "return_rate_monthly",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) ELSE 0 END) * 1000
                // SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS returned_value_milli
    FROM lineitem GROUP BY 1
    """,
    tags=("agg", "timeseries", "dq", "analytics"),
)
def return_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate trend by ship month: returned line count and the
    returned share of revenue in milli — the quality-of-sales metric
    whose drift flags fulfillment or fraud problems. One conditional
    month-grain aggregate."""
    li = T(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    ret = F.col("l_returnflag") == "R"
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(ret, 1).otherwise(0)).cast("long").alias("n_returned"),
            F.sum(F.when(ret, cents).otherwise(0)).alias("_rc"),
            F.sum(cents).alias("_tc"),
        )
        .select(
            "month",
            "n_lines",
            "n_returned",
            F.expr("_rc * 1000 div _tc").cast("long").alias("returned_value_milli"),
        )
    )


# --- intra-order fulfillment spread -----------------------------------------


@register(
    "order_ship_spread_histogram",
    """
    WITH o AS (
      SELECT l_orderkey,
             CAST(MAX(CAST(l_shipdate AS DATE)) - MIN(CAST(l_shipdate AS DATE)) AS BIGINT) AS spread_days
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(spread_days // 7 AS BIGINT) AS spread_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM o GROUP BY 1
    """,
    tags=("agg", "sla", "analytics"),
)
def order_ship_spread_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How split are shipments within one order: histogram of the
    first-to-last ship-date spread per order, in week buckets — wide
    spreads mean multi-shipment orders (packaging cost, partial-
    delivery complaints). One orderkey aggregate then a bucket
    rollup bounded by the date span."""
    o = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.datediff(F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate")))
            .cast("long")
            .alias("spread_days")
        )
    )
    return o.groupBy(
        F.expr("spread_days div 7").cast("long").alias("spread_weeks")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))


# --- customers covering half the revenue ------------------------------------


@register(
    "customers_to_half_revenue",
    """
    WITH c AS (
      SELECT o_custkey, CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), r AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rk,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rev) OVER () AS total,
             COUNT(*) OVER () AS n
      FROM c
    )
    SELECT CAST(MIN(CASE WHEN 2 * cum >= total THEN rk END) AS BIGINT) AS customers_to_half,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN 2 * cum >= total THEN rk END) * 1000 // MAX(n) AS BIGINT) AS share_of_base_milli
    FROM r
    """,
    tags=("stats", "window", "analytics"),
)
def customers_to_half_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale-dependency index: the minimum number of customers whose
    combined revenue reaches half the total (first rank where
    2·cum ≥ total — no halving division), plus that count as a share
    of the customer base. The single number executives quote from the
    Pareto curve.

    Scale: ranks and running sums from the two-pass range-partitioned
    rank (operators/rank.py); base totals are a plain aggregate
    broadcast back — no single-partition window on the customer
    grain."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev"))
    )
    ranked = two_pass_rank(
        c, [F.col("rev").desc(), F.col("o_custkey")], rank_col="rk", cumsum={"cum": F.col("rev")}
    )
    # total = final cumsum, n = final rank — both read from the
    # rank's materialized output, not a second orders scan
    base = ranked.agg(
        F.max("cum").cast("long").alias("total"), F.max("rk").cast("long").alias("n")
    )
    r = ranked.crossJoin(F.broadcast(base))
    return r.agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("rk")))
        .cast("long")
        .alias("customers_to_half"),
        F.max("n").cast("long").alias("n_customers"),
        F.expr(
            "min(CASE WHEN 2 * cum >= total THEN rk END) * 1000 div max(n)"
        )
        .cast("long")
        .alias("share_of_base_milli"),
    )


# --- part seasonality -------------------------------------------------------


@register(
    "seasonal_parts_top20",
    """
    WITH pm AS (
      SELECT l_partkey, CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mon,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ), pt AS (
      SELECT l_partkey, CAST(SUM(n) AS BIGINT) AS total FROM pm GROUP BY 1
    ), peak AS (
      SELECT pm.l_partkey, pt.total,
             MAX(pm.n * 1000 // pt.total) AS peak_share_milli
      FROM pm JOIN pt ON pm.l_partkey = pt.l_partkey
      GROUP BY pm.l_partkey, pt.total
    )
    SELECT l_partkey AS partkey, total AS n_lines,
           CAST(peak_share_milli AS BIGINT) AS peak_month_share_milli
    FROM peak WHERE total >= 24
    ORDER BY peak_share_milli DESC, l_partkey
    LIMIT 20
    """,
    tags=("stats", "timeseries", "topk", "analytics"),
)
def seasonal_parts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most seasonal parts: highest single-calendar-month share
    of lifetime sales (uniform = ~83 milli, pure-seasonal = 1000),
    among parts with enough history (≥ 24 lines) for the share to
    mean anything — the planning list for inventory pre-positioning.

    Scale: two part-keyed aggregates (month grain then peak), shares
    in integer milli, and a top-20 TakeOrderedAndProject."""
    pm = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", F.month("l_shipdate").cast("long").alias("mon"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pt = pm.groupBy("l_partkey").agg(F.sum("n").cast("long").alias("total"))
    peak = (
        pm.join(pt, "l_partkey")
        .groupBy("l_partkey", "total")
        .agg(F.max(F.expr("n * 1000 div total")).cast("long").alias("peak_share_milli"))
    )
    return (
        peak.filter(F.col("total") >= 24)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("total").alias("n_lines"),
            F.col("peak_share_milli").alias("peak_month_share_milli"),
        )
        .orderBy(F.desc("peak_month_share_milli"), "partkey")
        .limit(20)
    )


# --- discount-band effectiveness --------------------------------------------


@register(
    "discount_band_effectiveness",
    """
    WITH l AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc_cents,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT CASE WHEN disc_cents = 0 THEN '0-none'
                WHEN disc_cents <= 3 THEN '1-low'
                WHEN disc_cents <= 6 THEN '2-mid'
                ELSE '3-deep' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(qty) * 1000 // COUNT(*) AS BIGINT) AS mean_qty_milli,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_line_cents
    FROM l GROUP BY 1
    """,
    tags=("agg", "analytics"),
)
def discount_band_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount effectiveness by band: mean quantity (milli-units,
    truncating) and mean line value per discount tier — the banded
    view behind the discount-quantity correlation number, showing
    WHERE any volume response lives. One conditional aggregate."""
    l = T(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("disc_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    band = (
        F.when(F.col("disc_cents") == 0, "0-none")
        .when(F.col("disc_cents") <= 3, "1-low")
        .when(F.col("disc_cents") <= 6, "2-mid")
        .otherwise("3-deep")
    )
    return l.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.expr("sum(qty) * 1000 div count(*)").cast("long").alias("mean_qty_milli"),
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_line_cents"),
    )


# --- sourcing concentration -------------------------------------------------


@register(
    "sourcing_concentration_parts",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ), pt AS (
      SELECT l_partkey, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(MAX(n) AS BIGINT) AS top_n
      FROM ps GROUP BY 1
    )
    SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(top_n * 1000 // total) // COUNT(*) AS BIGINT) AS mean_top_supplier_share_milli
    FROM pt GROUP BY n_suppliers
    """,
    tags=("stats", "agg", "analytics"),
)
def sourcing_concentration_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain risk profile: parts grouped by how many suppliers
    ship them, with the mean top-supplier share per group — the
    single-source-dependency report (n_suppliers = 1 rows are the
    risk register). Two keyed aggregates, both map-side combinable;
    argmax-by-count folds into MAX on the (part, supplier) grain."""
    ps = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pt = ps.groupBy("l_partkey").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.max("n").cast("long").alias("top_n"),
    )
    return pt.groupBy(F.col("n_suppliers").cast("long").alias("n_suppliers")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.expr("sum(top_n * 1000 div total) div count(*)")
        .cast("long")
        .alias("mean_top_supplier_share_milli"),
    )


# --- market-segment dashboard -----------------------------------------------


@register(
    "segment_performance_report",
    """
    WITH cr AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END AS BIGINT) AS neg_bal,
             CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0) AS BIGINT) AS rev
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2, 3
    ), r AS (
      SELECT segment, rev, neg_bal,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY rev, c_custkey) AS rk,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM cr
    )
    SELECT segment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(rev) AS BIGINT) AS rev_cents,
           CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN rev END) AS BIGINT) AS median_customer_cents,
           CAST(SUM(neg_bal) * 1000 // MAX(n) AS BIGINT) AS neg_balance_milli
    FROM r GROUP BY segment
    """,
    tags=("stats", "window", "analytics"),
)
def segment_performance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment dashboard: customer count, total revenue, the
    exact median customer revenue (rank window; zero for never-
    ordered customers, kept via the LEFT join so the median reflects
    the whole base), and the negative-account-balance share — the
    one-screen segment health view.

    Scale: customer⋈orders co-partitions on the key; the median
    window partitions by the 5-value segment (the documented approx
    fallback applies to a mega-segment)."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).cast("long").alias("neg_bal"),
    )
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    cr = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("segment", "c_custkey", "neg_bal")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("rev"))
    )
    wr = Window.partitionBy("segment").orderBy("rev", "c_custkey")
    wn = Window.partitionBy("segment")
    r = cr.select(
        "segment",
        "rev",
        "neg_bal",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.sum("rev").cast("long").alias("rev_cents"),
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("rev")))
        .cast("long")
        .alias("median_customer_cents"),
        F.expr("sum(neg_bal) * 1000 div max(n)").cast("long").alias("neg_balance_milli"),
    )


# --- Poisson bootstrap ------------------------------------------------------

_BOOT_B = 32  # bootstrap replicas
# Poisson(1) inverse CDF as fixed thresholds on a uniform 32-bit hash
# (floor(cdf(k) * 2^32)); multiplicities capped at 7 — the truncated
# tail mass is ~1e-5, far below bootstrap noise at any real n.
_BOOT_CDF_T = (
    1580030168,  # k=0
    3160060337,  # k=1
    3950075421,  # k=2
    4213413783,  # k=3
    4279248373,  # k=4
    4292415291,  # k=5
    4294609777,  # k=6
)


def _boot_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF_T)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "bootstrap_revenue_totals",
    f"""
    WITH reps AS (SELECT UNNEST(range(0, {_BOOT_B})) AS replica),
    w AS (
      SELECT r.replica,
             {_boot_weight_sql(
                 "CAST(('0x' || substr(md5('boot|' || CAST(r.replica AS VARCHAR) || '|' || CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)"
             )} AS wt,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o CROSS JOIN reps r
    )
    SELECT CAST(replica AS BIGINT) AS replica,
           CAST(SUM(wt) AS BIGINT) AS n_eff,
           CAST(SUM(wt * cents) AS BIGINT) AS total_cents
    FROM w GROUP BY 1
    """,
    tags=("stats", "sampling"),
)
def bootstrap_revenue_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of total revenue (Chamandy et al., Google 2012
    — 'Estimating Uncertainty for Massive Data Streams'): each order
    joins replica b with multiplicity ~ Poisson(1) drawn from a
    deterministic 32-bit hash of (replica, orderkey), so resampling
    needs NO global row count, no sampling coordination, and no second
    pass — the property that makes the bootstrap runnable on a 100 TB
    stream. One replica-spine explode multiplies MAP work by B only;
    the aggregate is map-side combinable, so the shuffle carries at
    most B partials per partition. The spread of the B exact-integer
    replica totals IS the standard error of the total; downstream CIs
    are a trivial percentile over B rows. Multiplicities come from
    fixed integer CDF thresholds — bit-identical in any engine with
    md5, no RNG in the plan."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("replica")
    u = (
        "CAST(conv(substring(md5(concat('boot|', CAST(replica AS STRING), '|', "
        "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        o.select("o_orderkey", "cents", reps)
        .withColumn("wt", F.expr(_boot_weight_sql(u)))
        .groupBy(F.col("replica").cast("long").alias("replica"))
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.sum(F.col("wt") * F.col("cents")).cast("long").alias("total_cents"),
        )
    )
