"""Core relational queries: scans, projections, scalar fns, joins,
aggregations, windows, sorts, set ops (SURVEY.md §2.1-§2.4).

Every builder is a declarative DataFrame plan — Catalyst pushes the
filters/projections into the parquet scans and picks join strategies;
dimension sides carry explicit `broadcast` hints so the fact table
never shuffles for a dim join (the decision that matters at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_orders_spark.functions.cleaning import clean_priority
from etl_orders_spark.operators.rank import one_bucket, two_pass_rank
from etl_orders_spark.operators.skew import cap_group_fanout
from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T


def revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# whitespace tokens of lowercased text, DuckDB dialect (mirrors
# functions/text.tokens ∘ lower — used by the array-surface oracle).
# Edge-trim ALL whitespace with a regex: plain trim() strips spaces
# only, so a tab/newline-edged doc would keep a phantom empty token
# the Spark side never produces (same _WTRIM rationale as
# text_queries.py's shared fragments).
_DOC_WTRIM = r"regexp_replace(lower(text), '^\s+|\s+$', '', 'g')"
_DOC_TOKENS = (
    rf"CASE WHEN {_DOC_WTRIM} = '' THEN CAST([] AS VARCHAR[]) "
    rf"ELSE string_split_regex({_DOC_WTRIM}, '\s+') END"
)


# ---------------------------------------------------------------------------
# Flagship: the reference's star-schema denormalization re-expressed on the
# driver's schema (SURVEY.md §7 phase 2). lineitem ⋈ orders ⋈ customer ⋈ part
# with projection, rename, value cleanup, derived date — the same capability
# set as the reference pipeline (reference: dags/etl.py:89-124) at fact scale.
# ---------------------------------------------------------------------------


def build_enriched_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    part = T(spark, sf_dir, "part")
    # orders⋈lineitem is fact⋈fact: at 100 TB both sides co-partition on
    # orderkey (sort-merge / AQE); customer and part are dims → broadcast.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            F.to_date("o_orderdate").alias("order_date"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("brand"),
            clean_priority("o_orderpriority").alias("priority"),
            # integer cents via floor(x*100 + 0.5): bit-identical in any
            # engine (Spark ROUND is HALF_UP on the binary double, DuckDB
            # rounds half-to-even — per-row ROUND(x,2) diverges on .xx5)
            F.floor(revenue() * 100 + F.lit(0.5)).cast("long").alias("net_price_cents"),
        )
    )


register(
    "flagship_enriched_lineitems",
    """
    SELECT l.l_orderkey AS order_key,
           l.l_linenumber AS line_number,
           CAST(o.o_orderdate AS DATE) AS order_date,
           c.c_name AS customer_name,
           c.c_mktsegment AS segment,
           p.p_name AS part_name,
           p.p_brand AS brand,
           split_part(o.o_orderpriority, '-', 2) AS priority,
           CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS net_price_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
    tags=("join", "projection", "scalar"),
    bench=True,
)(build_enriched_lineitems)


# --- aggregation family (SURVEY.md §2.4 A1) --------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate groupBy. Map-side partial
    aggregation + 2-phase final agg are automatic; the shuffle carries
    only (flag, status) x partial states — constant-size at any SF."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(revenue()), 2).alias("sum_disc_price"),
        F.round(F.sum(revenue() * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey AS order_key,
           CAST(o.o_orderdate AS DATE) AS order_date,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY rev DESC, order_key
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact joins → agg → top-k.
    The segment filter broadcasts a pre-filtered customer set; ORDER BY
    uses the rounded measure + unique key so the limit is deterministic
    across engines."""
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_orderkey").alias("order_key"), F.to_date("o_orderdate").alias("order_date"))
        .agg(F.round(F.sum(revenue()), 2).alias("rev"))
        .orderBy(F.desc("rev"), "order_key")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. All five non-fact relations are
    dims → every join below is broadcast-hash; lineitem streams through
    unshuffled regardless of SF."""
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = T(spark, sf_dir, "nation")
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(revenue()), 2).alias("rev"))
    )


@register(
    "agg_global_stats",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           ROUND(SUM(l_quantity), 2) AS total_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(AVG(l_extendedprice), 2) AS avg_price
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate: single-row reduce; countDistinct
    expands to a 2-phase distinct-then-count plan."""
    return T(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
    )


@register(
    "distinct_status_priority",
    "SELECT DISTINCT o_orderstatus, split_part(o_orderpriority, '-', 2) AS priority FROM orders",
    tags=("agg", "scalar"),
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a derived column — dedup is a hash aggregate."""
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderstatus", clean_priority("o_orderpriority").alias("priority"))
        .distinct()
    )


@register(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total)."""
    return (
        T(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(revenue()), 2).alias("rev"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "cube_quantity",
    """
    SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    return T(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@register(
    "approx_distinct_parts",
    None,  # approximate sketches are engine-specific; rows-only check
    tags=("agg", "approx"),
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for COUNT
    DISTINCT (constant memory vs a full shuffle of the key universe).
    No oracle: sketch estimates are engine-specific by construction."""
    return T(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- scalar functions (SURVEY.md §2.2 P5/P6, §2.4 A5) -----------------------


@register(
    "recode_priority_counts",
    """
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 'URGENT'
             WHEN '2-HIGH' THEN 'HIGH'
             ELSE 'NORMAL'
           END AS priority_class,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    """,
    tags=("scalar",),
)
def recode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 value recode (reference: dags/etl.py:60 gender recode) applied
    to the driver's dirty-categorical analog o_orderpriority."""
    from etl_orders_spark.functions.cleaning import recode

    cls = recode(
        "o_orderpriority", {"1-URGENT": "URGENT", "2-HIGH": "HIGH"}, default_passthrough=False
    ).otherwise(F.lit("NORMAL"))
    return T(spark, sf_dir, "orders").groupBy(cls.alias("priority_class")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "ship_months",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY 1
    """,
    tags=("scalar", "agg"),
)
def ship_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 date truncation (reference: dags/etl.py:63-64) as typed date
    arithmetic: month-truncate + aggregate. At scale this grouping key
    is also the natural partition column for the parquet layout."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.trunc(F.to_date("l_shipdate"), "month").alias("ship_month"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


@register(
    "string_functions",
    """
    SELECT c_custkey AS custkey,
           UPPER(c_name) AS name_upper,
           split_part(c_name, '#', 2) AS name_id,
           CONCAT(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len
    FROM customer
    """,
    tags=("scalar",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: upper/split/concat/length (the reference's
    only string ops are split + concat; reference: dags/etl.py:63-64,
    create_data_source.ipynb cell 9)."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.split(F.col("c_name"), "#").getItem(1).alias("name_id"),
        F.concat_ws(":", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@register(
    "filter_predicate",
    """
    SELECT o_orderkey AS order_key, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 50000
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    """,
    tags=("filter",),
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 explicit row filter. All three predicates push into the
    parquet scan (verify: PushedFilters in .explain)."""
    return (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 50000)
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("order_key"), F.round("o_totalprice", 2).alias("total_price"))
    )


# --- windows / sorts / top-k (SURVEY.md §2.4 A2, A3) ------------------------


@register(
    "window_rank_parts",
    """
    SELECT p_brand AS brand, p_partkey AS partkey, ROUND(p_retailprice, 2) AS price,
           ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
    FROM part
    """,
    tags=("window",),
)
def window_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window; ORDER BY includes the unique key so row_number is
    deterministic."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return T(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("partkey"),
        F.round("p_retailprice", 2).alias("price"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "window_running_revenue",
    """
    SELECT o_custkey AS custkey, o_orderkey AS order_key,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    tags=("window",),
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame: per-customer running total in order-date order."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_lag_events",
    """
    SELECT event_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id), 2) AS delta
    FROM events
    """,
    tags=("window", "events"),
)
def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG across each user's event timeline (first event → null delta)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return T(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@register(
    "topk_parts_per_brand",
    """
    WITH part_rev AS (
      SELECT p.p_brand, p.p_partkey,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_partkey
    )
    SELECT p_brand AS brand, p_partkey AS partkey, rev
    FROM part_rev
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) <= 3
    """,
    tags=("window", "topk", "join"),
    bench=True,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: agg → window row_number ≤ k on the rounded
    measure (ties broken by key). The window sees only the aggregated
    (brand, part) rows, not the fact table."""
    part = T(spark, sf_dir, "part")
    li = T(spark, sf_dir, "lineitem")
    part_rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(revenue()), 2).alias("rev"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("rev"), "p_partkey")
    return (
        part_rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(F.col("p_brand").alias("brand"), F.col("p_partkey").alias("partkey"), "rev")
    )


@register(
    "orderby_limit",
    """
    SELECT o_orderkey AS order_key, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "topk"),
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — a per-partition
    heap + driver merge, never a full sort, at any SF."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select(F.col("o_orderkey").alias("order_key"), F.round("o_totalprice", 2).alias("total_price"))
    )


# --- set ops (SURVEY.md §2.4 A4) --------------------------------------------


@register(
    "union_high_value_keys",
    """
    SELECT custkey, COUNT(*) AS n FROM (
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      UNION ALL
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    ) u GROUP BY custkey
    """,
    tags=("setop",),
)
def union_high_value_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    b = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("custkey"))
    return a.unionByName(b).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "intersect_building_buyers",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
    tags=("setop",),
)
def intersect_building_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "except_never_ordered",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
    tags=("setop",),
)
def except_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL EXCEPT = subtract (set semantics): removes every left row with
    a match in the right, then dedups — unlike exceptAll().distinct(),
    which leaves multiplicity differences behind."""
    a = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


# --- join completeness (SURVEY.md §2.3 J4) ----------------------------------


@register(
    "join_left_order_counts",
    """
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join preserving customers with zero orders (count=0)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_active_customers",
    """
    SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS — the direct form of the reference's
    join-as-referential-integrity-filter semantics (SURVEY.md §1.4)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


@register(
    "join_anti_inactive_customers",
    """
    SELECT c_custkey AS custkey, c_name AS name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


@register(
    "join_cross_region_status",
    """
    SELECT r.r_name AS region, s.o_orderstatus AS status
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("join",),
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join of two tiny relations (broadcast nested loop)."""
    r = T(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    s = T(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("status")).distinct()
    return r.crossJoin(F.broadcast(s))


@register(
    "join_full_outer_nation_counts",
    """
    SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
           CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp
    FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.c_nationkey = s.s_nationkey
    """,
    tags=("join", "setop"),
)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nations with only customers or only suppliers
    survive with zero-filled counts."""
    c = (
        T(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "percentile_prices",
    """
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS p50,
           quantile_disc(l_extendedprice, 0.9) AS p90,
           quantile_disc(l_extendedprice, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE percentiles per group: the returned value is an
    actual data value (first value with cumulative fraction >= p — the
    same convention in Spark's percentile_disc and DuckDB's
    quantile_disc, verified across n=1..101), so the cross-engine hash
    is bit-exact with no rounding. The continuous form was ulp-fragile:
    ROUND(interpolated double) flipped at sf0.001 because the engines
    order the lerp differently. The scale caveat is real either way:
    exact percentile holds the group's values — the approx twin below
    is the 100 TB path."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p99"),
    )


@register(
    "approx_percentile_prices",
    None,  # t-digest/GK sketches are engine-specific; rows-only
    tags=("agg", "percentile", "approx"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — constant memory per group, the form
    that survives 100 TB (exact percentile materializes the group)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)), 2).alias("p50"),
        F.round(F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000)), 2).alias("p99"),
    )


@register(
    "date_arithmetic",
    """
    SELECT o_orderkey AS order_key,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    """,
    tags=("scalar", "date"),
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface (A5): add/diff/last_day/year/quarter —
    generalizes the reference's random_date math (reference:
    dags/utils/random_date.py:8-13)."""
    o = T(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
        F.last_day(d).alias("month_end"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
    )


@register(
    "array_functions_docs",
    f"""
    SELECT doc_id,
           CAST(len({_DOC_TOKENS}) AS INT) AS n_toks,
           array_to_string(list_slice(list_sort({_DOC_TOKENS}), 1, 3), ',') AS first3_sorted,
           list_contains({_DOC_TOKENS}, 'the') AS has_the,
           CAST(len(list_distinct({_DOC_TOKENS})) AS INT) AS n_uniq
    FROM documents
    """,
    tags=("scalar", "array"),
)
def array_functions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface (A5): size/sort/slice/contains/distinct over
    the tokenized text — all higher-order-free JVM array ops. The array
    output column is serialized with array_join on both engine and
    oracle sides because the driver's pandas canonicalizer cannot sort
    raw array cells (unhashable numpy.ndarray)."""
    from etl_orders_spark.functions.text import tokens

    toks = tokens(F.lower("text"))
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), ",").alias("first3_sorted"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )


@register(
    "collect_status_sets",
    """
    SELECT o_custkey AS custkey,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    tags=("agg", "array"),
)
def collect_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted array per key, serialized with array_join
    (sorted so the value hash is order-insensitive across engines;
    joined because the driver's canonicalizer cannot hash array cells)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "pivot_revenue_by_status",
    """
    SELECT l_returnflag,
           ROUND(COALESCE(SUM(l_extendedprice * (1 - l_discount)) FILTER (l_linestatus = 'F'), 0), 2) AS status_f,
           ROUND(COALESCE(SUM(l_extendedprice * (1 - l_discount)) FILTER (l_linestatus = 'O'), 0), 2) AS status_o
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (A1 family): revenue per returnflag spread across the
    linestatus domain. The value list is explicit — at scale an
    unbounded pivot would need a distinct pass to discover columns."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum(revenue()), 2))
        .select(
            "l_returnflag",
            F.coalesce(F.round("F", 2), F.lit(0.0)).alias("status_f"),
            F.coalesce(F.round("O", 2), F.lit(0.0)).alias("status_o"),
        )
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg",),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL entry point —
    the registered proof that spark.sql over registered views is a
    first-class query surface, not just the DataFrame API."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "correlated_above_avg_orders",
    """
    SELECT o_orderkey AS order_key, ROUND(o_totalprice, 2) AS total_price
    FROM orders o
    WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) * 1.5 FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("join", "subquery"),
)
def correlated_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SQL surface): orders 1.5x above
    their customer's average. Catalyst decorrelates this into an
    aggregate + join — same plan the hand-written form would build."""
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey AS order_key, ROUND(o_totalprice, 2) AS total_price
        FROM orders_v o
        WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) * 1.5 FROM orders_v o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "events_customer_enrichment",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n, ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    tags=("join", "events", "agg"),
)
def events_customer_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table enrichment shape: events fact joined to the
    customer dimension (broadcast) and rolled up — the batch form of a
    streaming dimension join."""
    e = T(spark, sf_dir, "events")
    c = T(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), c.c_custkey == e.user_id)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


_PROFILE_NUMERIC = ("l_quantity", "l_extendedprice", "l_discount")
_PROFILE_STRING = ("l_returnflag",)


def _profile_oracle() -> str:
    # leads with the operator's table-level row-count metric
    parts = [
        "SELECT '__table__' AS col_name, 'n_rows' AS metric, "
        "CAST(COUNT(*) AS DOUBLE) AS value FROM lineitem"
    ]
    for c in _PROFILE_NUMERIC + _PROFILE_STRING:
        parts.append(
            f"SELECT '{c}' AS col_name, 'n_null' AS metric, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS value FROM lineitem"
        )
        parts.append(
            f"SELECT '{c}', 'n_distinct', CAST(COUNT(DISTINCT {c}) AS DOUBLE) FROM lineitem"
        )
    for c in _PROFILE_NUMERIC:
        parts.append(f"SELECT '{c}', 'min', ROUND(CAST(MIN({c}) AS DOUBLE), 4) FROM lineitem")
        parts.append(f"SELECT '{c}', 'max', ROUND(CAST(MAX({c}) AS DOUBLE), 4) FROM lineitem")
        parts.append(f"SELECT '{c}', 'avg', ROUND(AVG({c}), 4) FROM lineitem")
    return " UNION ALL ".join(parts)


@register(
    "profile_lineitem",
    _profile_oracle(),
    tags=("agg", "profile"),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null rate / distinct / range) for the fact
    table — all metrics for all columns in ONE aggregate pass,
    unpivoted to narrow (col, metric, value) rows."""
    from etl_orders_spark.operators.profile import profile_columns

    return profile_columns(
        T(spark, sf_dir, "lineitem"),
        numeric_cols=list(_PROFILE_NUMERIC),
        string_cols=list(_PROFILE_STRING),
    )


@register(
    "zscore_docs_by_lang",
    """
    SELECT doc_id, lang, n_chars,
           ROUND(CASE WHEN stddev_pop(n_chars) OVER w = 0 THEN 0.0
                      ELSE (n_chars - AVG(n_chars) OVER w) / stddev_pop(n_chars) OVER w
                 END, 4) AS z
    FROM documents
    WINDOW w AS (PARTITION BY lang)
    """,
    tags=("window", "scalar"),
)
def zscore_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization (z-score of doc length by language) as
    native window aggregates — the production form; the applyInPandas
    grouped-map twin is registered rows-only below."""
    from etl_orders_spark.operators.grouped_map import zscore_by_group_native

    out = zscore_by_group_native(T(spark, sf_dir, "documents"))
    return out.withColumn("z", F.round("z", 4))


@register(
    "zscore_docs_by_lang_pandas",
    None,  # grouped-map pandas twin; equality with the native form is a unit test
    tags=("window", "pandas-udf"),
)
def zscore_docs_by_lang_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas grouped-map form of the same normalization —
    one pandas frame per language group, the literal equivalent of the
    reference's whole-table pandas transforms."""
    from etl_orders_spark.operators.grouped_map import zscore_by_group

    out = zscore_by_group(T(spark, sf_dir, "documents"))
    return out.withColumn("z", F.round("z", 4))


@register(
    "having_large_orders",
    """
    SELECT o.o_orderkey AS order_key, ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    HAVING SUM(l.l_quantity) > 150
    """,
    tags=("join", "agg", "having"),
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: post-aggregation HAVING filter over a fact-fact
    join. The filter runs on the aggregated rows (tiny), never the
    fact table."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("order_key"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )


@register(
    "not_in_active_brands",
    """
    SELECT p_brand AS brand, COUNT(*) AS n_parts
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY p_brand
    """,
    tags=("join", "subquery"),
)
def not_in_active_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery via the SQL surface — Catalyst plans a null-aware
    anti join (the l_partkey domain here is non-null, so semantics
    match the anti-join form)."""
    T(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v2")
    return spark.sql(
        """
        SELECT p_brand AS brand, COUNT(*) AS n_parts
        FROM part_v
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem_v2 WHERE l_quantity > 45)
        GROUP BY p_brand
        """
    )


@register(
    "monthly_spine_filled",
    """
    WITH bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ), spine AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month FROM bounds
    ), actual AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
      FROM orders GROUP BY 1
    )
    SELECT s.month, CAST(COALESCE(a.n, 0) AS BIGINT) AS n,
           COALESCE(a.total, 0.0) AS total
    FROM spine s LEFT JOIN actual a ON a.month = s.month
    """,
    tags=("scalar", "date", "spine"),
)
def monthly_spine_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: a generated month sequence left-joined
    to actual per-month aggregates, so empty months appear as zeros —
    the calendar-densification every time-series rollup needs. The
    spine generates from one aggregated (min,max) row via
    sequence+explode; the fact side is a plain month aggregate."""
    o = T(spark, sf_dir, "orders")
    bounds = o.agg(
        F.trunc(F.min(F.to_date("o_orderdate")), "month").alias("lo"),
        F.trunc(F.max(F.to_date("o_orderdate")), "month").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    actual = o.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    return (
        spine.join(actual, "month", "left")
        .select(
            "month",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    tags=("join", "subquery", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate inside the predicate.
    Catalyst decorrelates to a per-part average joined back — the
    fact table is scanned twice but never nested-looped."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    T(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_size <= 5
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM lineitem_q17 l2 WHERE l2.l_partkey = l.l_partkey)
        """
    )


@register(
    "window_stats_customers",
    """
    SELECT c_custkey AS custkey,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window",),
)
def window_stats_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist)
    over a deterministic total order — rebuilt from the two-pass
    range-partitioned rank (operators/rank.py): under a total order
    (unique tiebreaker, so rank == row_number and cume_dist == rk/n)
    ntile = ntile_from_rank, percent_rank = (rk−1)/(n−1) — identical
    values to the window forms, with no single-partition stage."""
    from etl_orders_spark.operators.rank import ntile_from_rank, two_pass_rank

    cust = T(spark, sf_dir, "customer")
    ranked = two_pass_rank(cust, [F.col("c_acctbal"), F.col("c_custkey")], rank_col="_rk")
    n = cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        F.col("c_custkey").alias("custkey"),
        ntile_from_rank(F.col("_rk"), F.col("_n"), 4).cast("int").alias("quartile"),
        F.round(
            F.when(F.col("_n") > 1, (F.col("_rk") - 1) / (F.col("_n") - 1)).otherwise(0.0), 6
        ).alias("pct_rank"),
        F.round(F.col("_rk") / F.col("_n"), 6).alias("cume"),
    )


@register(
    "q12_priority_by_linestatus",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
    tags=("join", "agg", "conditional"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) over
    a join with an inter-column date predicate."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


@register(
    "q14_brand_revenue_share",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_brand = 'Brand#1'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS brand1_share_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    tags=("join", "agg", "conditional"),
)
def q14_brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of a conditionally-filtered sum to the
    total, one scalar output — both sums in a single pass."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    rev = revenue()
    brand = F.when(F.col("p_brand") == "Brand#1", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(brand) / F.sum(rev), 4).alias("brand1_share_pct"))
    )


@register(
    "merge_upsert_customers",
    """
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_acctbal > 9000
    )
    SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
    UNION ALL
    SELECT * FROM src
    """,
    tags=("merge", "setop"),
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert capability (anti-join + union — MERGE INTO with a
    table format): a simulated update batch (+100 balance for rich
    customers) wins on key collision, untouched rows survive."""
    from etl_orders_spark.operators.merge import merge_upsert

    c = T(spark, sf_dir, "customer")
    src = c.filter(F.col("c_acctbal") > 9000).withColumn("c_acctbal", F.col("c_acctbal") + 100)
    return merge_upsert(c, src, ["c_custkey"])


@register(
    "stats_quantity_price",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           ROUND(stddev_samp(l_extendedprice), 2) AS std_price,
           ROUND(var_samp(l_discount), 6) AS var_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def stats_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr/covar/stddev/variance) — all
    single-pass distributed moments; rounded so the engines' different
    accumulation formulas (Welford vs naive) can't flip the hash."""
    return T(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )


@register(
    "string_functions_extra",
    r"""
    SELECT p_partkey AS partkey,
           regexp_extract(p_name, '([0-9]+)', 1) AS first_number,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           reverse(p_brand) AS brand_rev
    FROM part
    """,
    tags=("scalar", "string"),
)
def string_functions_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string surface: regexp_extract, lpad, replace, locate,
    reverse — the remainder of A5's string family."""
    p = T(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("partkey"),
        F.regexp_extract("p_name", r"([0-9]+)", 1).alias("first_number"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.locate("a", F.col("p_name")).alias("first_a"),
        F.reverse("p_brand").alias("brand_rev"),
    )


# --- reference golden pipeline over driver tables: the RI-filter cardinality
#     semantics (inner joins drop dangling keys) as an oracle-checked query --


@register(
    "ri_filter_join",
    """
    SELECT l.l_orderkey AS order_key, l.l_linenumber AS line_number, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size > 25
    """,
    tags=("join", "filter"),
)
def ri_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-join-as-filter (reference: dags/etl.py:109-110 drops
    dangling Product_IDs): only lineitems whose part survives the size
    predicate remain."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_size") > 25)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("p_brand").alias("brand"),
    )


# --- privacy operators: the redaction step the reference never had
#     (it loads raw names/emails/phones; reference dags/etl.py:49-66) --------


@register(
    "pseudonymize_customers",
    """
    SELECT md5('cust-v1|' || CAST(c_custkey AS VARCHAR)) AS cust_pseudo,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
           c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000.0) * 1000.0 AS DOUBLE) AS acctbal_bucket
    FROM customer
    """,
    tags=("privacy", "projection"),
)
def pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII minimization as a map stage: stable keyed pseudonym for the
    customer key (joins still work, linkage breaks on salt rotation),
    digit-masked display name, and the account balance generalized to
    $1000 buckets. Free-text email/phone redaction lives in
    functions/privacy.py and is fixture-tested (the driver corpus
    carries no organic PII)."""
    from etl_orders_spark.functions.privacy import generalize_numeric, mask_digits, pseudonym

    return T(spark, sf_dir, "customer").select(
        pseudonym("c_custkey", "cust-v1").alias("cust_pseudo"),
        mask_digits("c_name").alias("name_masked"),
        "c_mktsegment",
        generalize_numeric("c_acctbal", 1000.0).alias("acctbal_bucket"),
    )


# --- window frames over event time + relational unpivot ---------------------


@register(
    "rolling_7day_revenue",
    """
    WITH daily AS (
      SELECT DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
             CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT day, day_cents,
           CAST(SUM(day_cents) OVER (
             ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling7_cents
    FROM daily
    """,
    tags=("window", "frame", "time"),
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time: daily order totals with a
    trailing 7-day rolling sum. The frame is RANGE over an epoch-day
    integer (not ROWS): calendar gaps contribute nothing instead of
    silently widening the window. Scale shape: the aggregate shrinks
    the fact table to one row per day BEFORE the window runs, so the
    unpartitioned window sorts only ~date-range rows — the pattern
    that keeps global time-series windows viable at 100 TB (partition
    the window by tenant/series key when one exists)."""
    daily = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
                "day_num"
            ),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("day_cents")
        )
    )
    w = Window.partitionBy(one_bucket("day_num")).orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day", "day_cents", F.sum("day_cents").over(w).cast("long").alias("rolling7_cents")
    )


@register(
    "unpivot_lineitem_measures",
    """
    WITH m AS (
      SELECT l_returnflag,
             ROUND(AVG(l_quantity), 2) AS avg_qty,
             ROUND(AVG(l_extendedprice), 2) AS avg_price,
             ROUND(AVG(l_discount), 4) AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'avg_qty' AS metric, avg_qty AS value FROM m
    UNION ALL
    SELECT l_returnflag, 'avg_price' AS metric, avg_price AS value FROM m
    UNION ALL
    SELECT l_returnflag, 'avg_disc' AS metric, avg_disc AS value FROM m
    """,
    tags=("unpivot", "agg"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (the inverse of pivot_revenue_by_status):
    aggregate first — three doubles per group — then melt columns to
    (metric, value) rows via DataFrame.unpivot, a zero-shuffle local
    expansion. Aggregate-then-round keeps the doubles cross-engine
    stable."""
    m = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )
    return m.unpivot(
        ids=["l_returnflag"],
        values=["avg_qty", "avg_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "cdc_orders_snapshot_diff",
    """
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 50 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 89 <> 0
    ), n AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
    ), j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'insert'
                WHEN NOT in_new THEN 'delete'
                ELSE 'update' END AS change_type,
           -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
           -- array_join([]) is '' — pin the empty case to ''
           COALESCE(array_to_string(CASE WHEN in_old AND in_new THEN
             list_sort(list_filter([
               CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
               CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END
             ], x -> x IS NOT NULL))
           ELSE CAST([] AS VARCHAR[]) END, ','), '') AS changed_cols
    FROM j
    WHERE NOT in_old OR NOT in_new
       OR os IS DISTINCT FROM ns OR op IS DISTINCT FROM np
    """,
    tags=("cdc", "join", "diff"),
)
def cdc_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two deterministic simulated snapshots
    of orders: "yesterday" drops every 89th key and recodes the status
    of keys ending in 50; "today" drops every 97th key. The diff tags
    the re-appearing 89ths as inserts, the missing 97ths as deletes,
    and the recoded keys as updates naming the changed column — the
    typed change feed an incremental downstream consumes instead of a
    full reload. One co-partitionable full-outer join; see
    operators/snapshot_diff.py."""
    from etl_orders_spark.operators.snapshot_diff import snapshot_diff

    base = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = base.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 100 == 50, "X").otherwise(F.col("o_orderstatus")),
    )
    new = base.filter(F.col("o_orderkey") % 97 != 0)
    # serialized array (registry convention): the operator's typed
    # array survives for library callers/tests; the REGISTERED surface
    # ships scalars so any pandas canonicalizer can sort it
    return snapshot_diff(
        old, new, ["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    ).withColumn("changed_cols", F.array_join("changed_cols", ","))


_BASKET_TOPK = 20


@register(
    "market_basket_pairs",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support
    FROM pairs
    ORDER BY support DESC, part_a, part_b
    LIMIT {_BASKET_TOPK}
    """,
    tags=("basket", "join", "agg", "topk"),
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, ranked by support. The self-join is keyed on l_orderkey —
    a co-partitionable fact⋈fact shuffle, never a cross join; per-order
    distinct parts first so a part repeated in one order can't inflate
    support. At 100 TB the guard that matters is basket width: pair
    fan-out is quadratic per order, so baskets are capped at 64 parts
    (cap_group_fanout — the window reuses the join's orderkey
    partitioning, and TPC-H baskets are ≤7 parts so the cap never
    fires on the fixtures). Top-k is a TakeOrderedAndProject over the
    aggregated pairs."""
    li = cap_group_fanout(
        T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
        "l_partkey",
        64,
        distinct=True,
    )
    a = li.toDF("ok", "part_a")
    b = li.toDF("ok", "part_b")
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(_BASKET_TOPK)
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("events", "window", "analytics"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition counts (the Markov matrix behind
    path/flow analysis): one window partitioned by user_id — state
    scales with users, not events — then a 25-cell aggregate.
    Tie-broken by event_id so simultaneous events order identically in
    both engines."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "mom_revenue_growth",
    """
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, rev_cents,
           CAST(FLOOR((rev_cents - LAG(rev_cents) OVER (ORDER BY month)) * 1000.0
                      / LAG(rev_cents) OVER (ORDER BY month) + 0.5) AS BIGINT) AS growth_milli
    FROM m
    """,
    tags=("window", "time", "agg"),
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in milli-units: the aggregate
    shrinks the fact table to one row per month before the lag window,
    so the unpartitioned window sorts ~tens of rows at any input scale.
    The ratio uses one double division then FLOOR(x+0.5) — identical
    in both engines for negative growth too, where integer-division
    truncation rules differ."""
    m = (
        T(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy(one_bucket("month")).orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month",
        "rev_cents",
        F.floor((F.col("rev_cents") - prev) * 1000.0 / prev + 0.5)
        .cast("long")
        .alias("growth_milli"),
    )


@register(
    "customer_revenue_deciles",
    """
    WITH c AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY o_custkey
    ), d AS (
      SELECT o_custkey, rev_cents,
             CAST(NTILE(10) OVER (ORDER BY rev_cents DESC, o_custkey) AS BIGINT) AS decile
      FROM c
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_cents) AS BIGINT) AS decile_rev_cents,
           CAST(MIN(rev_cents) AS BIGINT) AS floor_cents
    FROM d GROUP BY decile
    """,
    tags=("window", "ntile", "agg"),
)
def customer_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value deciles (the LTV segmentation cut): lifetime
    revenue per customer, NTILE(10) over the deterministic
    (revenue desc, key) order, then per-decile totals. The per-customer
    aggregate is the only fact-scale shuffle; the NTILE is rebuilt
    exactly from the two-pass range-partitioned rank
    (operators/rank.py ntile_from_rank) — no single-partition window
    on the customer grain."""
    from etl_orders_spark.operators.rank import ntile_from_rank, two_pass_rank

    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    ranked = two_pass_rank(c, [F.col("rev_cents").desc(), F.col("o_custkey")], rank_col="rk")
    # counted off the ranked frame, which reads two_pass_rank's
    # stage: counting `c` would scan and aggregate orders again
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_from_rank(F.col("rk"), F.col("_n"), 10))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("rev_cents").cast("long").alias("decile_rev_cents"),
            F.min("rev_cents").cast("long").alias("floor_cents"),
        )
    )


@register(
    "conditional_aggregates",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           bool_and(o_totalprice > 0) AS all_positive,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "conditional"),
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: count_if, bool_or,
    bool_and, count-distinct in one grouped pass — the predicates fold
    into the same two-phase aggregate as plain counts (no extra scan
    per condition, the same property the DQ gate exploits)."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 150000).cast("long").alias("n_big"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
    )


@register(
    "calendar_features_orders",
    """
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
    SELECT day,
           CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
           CAST(quarter(day) AS BIGINT) AS quarter,
           CAST(weekofyear(day) AS BIGINT) AS iso_week,
           last_day(day) AS month_end,
           day = last_day(day) AS is_month_end
    FROM d
    """,
    tags=("date", "scalar"),
)
def calendar_features_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature extraction over the distinct order dates — the
    derived columns a date dimension or seasonality model needs, all
    JVM scalar expressions. Cross-engine alignment is explicit where
    conventions differ: Spark dayofweek is 1=Sunday while DuckDB's dow
    is 0=Sunday (oracle adds 1); weekofyear is ISO in both."""
    d = T(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day")
    ).distinct()
    return d.select(
        "day",
        F.dayofweek("day").cast("long").alias("dow"),
        F.quarter("day").cast("long").alias("quarter"),
        F.weekofyear("day").cast("long").alias("iso_week"),
        F.last_day("day").alias("month_end"),
        (F.col("day") == F.last_day("day")).alias("is_month_end"),
    )


@register(
    "pareto_customer_revenue",
    """
    WITH c AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT o_custkey, rev_cents,
             CAST(ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey) AS BIGINT) AS rk,
             CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      FROM c
    )
    SELECT rk, o_custkey, rev_cents, cum_cents,
           CAST(cum_cents * 1000 // (SELECT SUM(rev_cents) FROM c) AS BIGINT) AS cum_share_milli
    FROM r
    WHERE rk <= 100
    """,
    tags=("window", "running", "topk"),
)
def pareto_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto curve head: top-100 customers with running revenue share
    (the 80/20 audit). Customers aggregate first (the only fact-scale
    shuffle); rank and running sum come from the two-pass
    range-partitioned rank (operators/rank.py), ordered by
    (revenue desc, key) so the cumulative share is deterministic —
    no single-partition window on the customer grain; shares are
    integer milli-units via truncating division — exact in both
    engines for positive sums."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    ranked = two_pass_rank(
        c,
        [F.col("rev_cents").desc(), F.col("o_custkey")],
        rank_col="rk",
        cumsum={"cum_cents": F.col("rev_cents")},
    )
    # summed off the ranked frame, which reads two_pass_rank's
    # stage: summing `c` would scan and aggregate orders again
    total = ranked.agg(F.sum("rev_cents").cast("long").alias("_total"))
    return (
        ranked.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(total))
        .select(
            "rk",
            "o_custkey",
            "rev_cents",
            "cum_cents",
            F.expr("cum_cents * 1000 div _total").cast("long").alias("cum_share_milli"),
        )
    )


@register(
    "salted_join_status_counts",
    """
    SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "skew", "agg"),
)
def salted_join_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join operator routed through the correctness gate:
    lineitem⋈orders executed with the big side salted 8 ways and the
    small side replicated — the plan-level fallback when one key owns a
    pathological share of a 100 TB fact and AQE's split isn't enough.
    The oracle is the PLAIN join: salting must be semantically
    invisible, which is exactly what the value hash certifies."""
    from etl_orders_spark.operators.skew import salted_join

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )


@register(
    "listagg_priorities_by_status",
    """
    SELECT o_orderstatus,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "string"),
)
def listagg_priorities_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG shape): the distinct priorities per
    status, sorted before joining so the concatenated string is
    order-insensitive — collect_list alone is partition-order-dependent
    and would break both determinism and the cross-engine hash."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list("o_orderpriority"))), ","
        ).alias("priorities"),
        F.count("*").cast("long").alias("n_orders"),
    )


@register(
    "anomaly_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ), stats AS (
      SELECT AVG(CAST(rev_cents AS DOUBLE)) AS mu,
             stddev_pop(CAST(rev_cents AS DOUBLE)) AS sigma
      FROM daily
    )
    SELECT day, rev_cents,
           ROUND(CASE WHEN sigma = 0 THEN 0.0
                      ELSE (CAST(rev_cents AS DOUBLE) - mu) / sigma END, 3) + 0.0 AS z,
           (CASE WHEN sigma = 0 THEN 0.0
                 ELSE abs(CAST(rev_cents AS DOUBLE) - mu) / sigma END) >= 2.0 AS is_anomaly
    FROM daily CROSS JOIN stats
    """,
    tags=("time", "agg", "anomaly"),
)
def anomaly_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: z-score each day's revenue
    against the whole series, flag |z| ≥ 2. The series aggregates to
    integer cents first (exact partial sums), and the 2-double stats
    row joins back as a broadcast — NOT an empty-frame window, which
    would drag the full series into a single partition. At 100 TB the
    same shape works per-key (seasonal baselines) by turning the cross
    join into an equi-join on the season key."""
    daily = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    stats = daily.agg(
        F.avg(F.col("rev_cents").cast("double")).alias("mu"),
        F.stddev_pop(F.col("rev_cents").cast("double")).alias("sigma"),
    )
    z_raw = F.when(F.col("sigma") == 0, F.lit(0.0)).otherwise(
        (F.col("rev_cents").cast("double") - F.col("mu")) / F.col("sigma")
    )
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "rev_cents",
        # + 0.0 collapses IEEE -0.0 (ROUND of a tiny negative z) to 0.0
        # so both engines print the same canonical zero
        (F.round(z_raw, 3) + F.lit(0.0)).alias("z"),
        (F.abs(z_raw) >= 2.0).alias("is_anomaly"),
    )


@register(
    "analytic_customer_ranks",
    """
    SELECT c_custkey, c_nationkey,
           ROUND(c_acctbal, 2) AS bal,
           CAST(FLOOR(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pr_micro,
           CAST(FLOOR(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cd_micro,
           ROUND(first_value(c_acctbal) OVER wf, 2) AS min_bal,
           ROUND(nth_value(c_acctbal, 2) OVER wf, 2) AS second_bal,
           ROUND(last_value(c_acctbal) OVER wf, 2) AS max_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
           wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "analytic"),
)
def analytic_customer_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function surface beyond rank/lag: percent_rank,
    cume_dist, first/nth/last value with an explicit full-partition
    ROWS frame (the default RANGE frame stops at CURRENT ROW, which
    engines disagree about for nth/last). Ordering is (acctbal,
    custkey) so ties cannot reorder across engines. percent_rank /
    cume_dist emit integer micro-units via FLOOR(x·1e6 + 0.5), never
    ROUND: rank/n is a terminating decimal whenever n is 2^a·5^b (at
    sf0.1 one nation has n=640 → cume_dist exactly .5203125), and
    ROUND(·,6) then splits HALF_UP vs half-even across engines. One
    shuffle on nation, both windows share it."""
    from pyspark.sql import Window

    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("bal"),
        F.floor(F.percent_rank().over(w) * 1000000 + F.lit(0.5)).cast("long").alias("pr_micro"),
        F.floor(F.cume_dist().over(w) * 1000000 + F.lit(0.5)).cast("long").alias("cd_micro"),
        F.round(F.first("c_acctbal").over(wf), 2).alias("min_bal"),
        F.round(F.nth_value("c_acctbal", 2).over(wf), 2).alias("second_bal"),
        F.round(F.last("c_acctbal").over(wf), 2).alias("max_bal"),
    )


@register(
    "incremental_rollup_maintenance",
    """
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    """,
    tags=("rollup", "incremental", "agg"),
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: yesterday's daily
    revenue rollup (built from a snapshot missing every 97th order) is
    brought up to date by recomputing ONLY the days touched by new
    orders — untouched days are carried over as-is, never rescanned.
    The oracle is the full recompute over today's data: equality proves
    the incremental path is lossless. At 100 TB this is the difference
    between reprocessing a day's partition and reprocessing years;
    integer-cents sums make carried-over and recomputed days combine
    exactly."""
    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    old = base.filter(F.col("o_orderkey") % 97 != 0)
    new = base  # today's snapshot: the missing keys have arrived
    rollup_old = old.groupBy("day").agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    # days touched by the delta — the only partitions that get rebuilt
    touched = new.filter(F.col("o_orderkey") % 97 == 0).select("day").distinct()
    carried = rollup_old.join(touched, "day", "left_anti")
    rebuilt = (
        new.join(touched, "day", "left_semi")
        .groupBy("day")
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    return carried.unionByName(rebuilt)


_RFM_ANCHOR = "1998-12-01"  # constant "as of" date for recency


@register(
    "rfm_segments",
    f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             CAST(DATEDIFF('day', MAX(CAST(o_orderdate AS DATE)), DATE '{_RFM_ANCHOR}') AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1
    ), q AS (
      SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(CAST(monetary_cents AS DOUBLE), [0.25, 0.5, 0.75]) AS mq
      FROM per_cust
    )
    SELECT custkey, recency_days, frequency, monetary_cents,
           CAST(1 + CASE WHEN recency_days * 1000 > FLOOR(rq[1] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN recency_days * 1000 > FLOOR(rq[2] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN recency_days * 1000 > FLOOR(rq[3] * 1000 + 0.5) THEN 1 ELSE 0 END AS BIGINT) AS r_score,
           CAST(1 + CASE WHEN frequency * 1000 > FLOOR(fq[1] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN frequency * 1000 > FLOOR(fq[2] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN frequency * 1000 > FLOOR(fq[3] * 1000 + 0.5) THEN 1 ELSE 0 END AS BIGINT) AS f_score,
           CAST(1 + CASE WHEN monetary_cents * 1000 > FLOOR(mq[1] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN monetary_cents * 1000 > FLOOR(mq[2] * 1000 + 0.5) THEN 1 ELSE 0 END
                  + CASE WHEN monetary_cents * 1000 > FLOOR(mq[3] * 1000 + 0.5) THEN 1 ELSE 0 END AS BIGINT) AS m_score
    FROM per_cust CROSS JOIN q
    """,
    tags=("agg", "analytics", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quartile scores
    per customer (1 = most recent; 4 = most frequent / highest spend).
    Scores come from comparing against EXACT percentile boundaries
    computed in one aggregate and broadcast back — not a global NTILE,
    whose single-partition window is exactly what dies at 100 TB.
    Monetary is integer cents so both engines sum exactly. Quartile
    boundaries are compared in integer milli-units (boundary rounded
    via FLOOR(q·1000 + 0.5) on both sides): interpolated quartiles of
    integer data are mathematically integral at milli precision, so
    the rounding erases cross-engine ulp noise that a raw double '>'
    would let flip a boundary-seated customer's score."""
    o = T(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.lit(_RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate").cast("date")))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    q = per_cust.agg(
        F.expr("percentile(CAST(recency_days AS DOUBLE), array(0.25, 0.5, 0.75))").alias("rq"),
        F.expr("percentile(CAST(frequency AS DOUBLE), array(0.25, 0.5, 0.75))").alias("fq"),
        F.expr("percentile(CAST(monetary_cents AS DOUBLE), array(0.25, 0.5, 0.75))").alias("mq"),
    )

    def score(col: str, bounds: str):
        s = F.lit(1)
        for i in (1, 2, 3):
            b_milli = F.floor(F.element_at(bounds, i) * 1000 + F.lit(0.5))
            s = s + F.when(F.col(col) * 1000 > b_milli, 1).otherwise(0)
        return s.cast("long")

    return per_cust.crossJoin(F.broadcast(q)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("recency_days", "rq").alias("r_score"),
        score("frequency", "fq").alias("f_score"),
        score("monetary_cents", "mq").alias("m_score"),
    )


@register(
    "triangle_count_copurchase",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT COUNT(*) FROM e e1
                 JOIN e e2 ON e2.p1 = e1.p2
                 JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    """,
    tags=("graph", "join", "analytics"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts sharing an
    order are adjacent), using DEGREE-ORDERED edge orientation (Cohen
    '09 / Suri-Vassilvitskii WWW'11): every edge points from its
    lower-(degree, id) endpoint to the higher one, so each node
    generates wedges only among its out-neighbors — out-degree is
    O(sqrt(m)) for ANY graph under this orientation, which is what
    keeps the wedge (candidate) stage from exploding on hub nodes at
    100 TB. Each triangle has exactly one node with two out-edges, so
    every triangle is emitted once; the closing lookup joins the
    unordered edge set. The oracle is the orientation-free p1<p2<p3
    three-way self-join.

    The edge set feeds four consumers (degree table, orientation,
    closing lookup, edge count) and the oriented set two (both wedge
    sides) — both materialize once through keyed stage caches so the
    lineitem self-join builds once, not once per consumer (measured 24
    lineitem scans without it)."""
    from etl_orders_spark.operators.materialize import cache_stage

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.toDF("o", "p1")
    b = li.toDF("o2", "p2")
    edges = cache_stage(
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("p1") < F.col("p2")))
        .select("p1", "p2")
        .distinct(),
        "triangle_count_copurchase.edges",
    )
    deg = (
        edges.select(F.col("p1").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.toDF("p1", "deg1")
    d2 = deg.toDF("p2", "deg2")
    # orient each edge from the lower-(degree, id) endpoint to the higher
    lo_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = cache_stage(
        edges.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(lo_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(lo_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        ),
        "triangle_count_copurchase.oriented",
    )
    w1 = oriented.toDF("u", "v")
    w2 = oriented.toDF("u2", "w")
    wedges = w1.join(w2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("w"))).select(
        "u", "v", "w"
    )
    closing = edges.toDF("e_lo", "e_hi")
    tri = wedges.join(
        closing, (F.col("e_lo") == F.col("v")) & (F.col("e_hi") == F.col("w")), "inner"
    )
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


_EWMA_ALPHA, _EWMA_SPAN = 0.2, 30


@register(
    "ewma_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT d.day,
           d.rev_cents,
           ROUND(SUM(e.rev_cents * {_EWMA_ALPHA} * POWER({1 - _EWMA_ALPHA}, DATEDIFF('day', e.day, d.day))), 2)
             AS ewma_cents
    FROM daily d JOIN daily e
      ON e.day <= d.day AND e.day > d.day - {_EWMA_SPAN}
    GROUP BY d.day, d.rev_cents
    """,
    tags=("timeseries", "window", "analytics"),
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue,
    truncated to a 30-day span (weights below (1-a)^30 ~= 1e-3 of the
    head are dropped IDENTICALLY in both engines, making the
    recursion-free formulation exact): a range self-join on the
    day-grain aggregate — which is tiny regardless of raw input scale,
    so the quadratic-in-span join cost is bounded by 30x the number of
    days, never by the number of orders. Integer-cents revenue; the
    weighted sum rounds to 2 with ~1e-8 relative FP noise on ~1e7
    magnitudes — 6 orders below the rounding grain."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    d = daily.toDF("day", "rev_cents")
    e = daily.toDF("e_day", "e_rev")
    k = F.datediff(F.col("day"), F.col("e_day"))
    w = F.lit(_EWMA_ALPHA) * F.pow(F.lit(1 - _EWMA_ALPHA), k)
    return (
        d.join(e, (F.col("e_day") <= F.col("day")) & (F.col("e_day") > F.date_sub(F.col("day"), _EWMA_SPAN)))
        .groupBy("day", "rev_cents")
        .agg(F.round(F.sum(F.col("e_rev") * w), 2).alias("ewma_cents"))
    )


_KANON_K = 5  # the k in k-anonymity: minimum indistinguishable-group size


@register(
    "k_anonymity_audit",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
             CAST(COUNT(*) AS BIGINT) AS group_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(group_size) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN group_size < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(SUM(CASE WHEN group_size < {_KANON_K} THEN group_size ELSE 0 END) AS BIGINT)
             AS rows_below_k
    FROM g
    """,
    tags=("privacy", "dq", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, $1000 balance band): every row must be
    indistinguishable from at least k-1 others on those columns before
    a release — groups below k are re-identification risks the
    pseudonymization above cannot fix (the QI combination itself
    leaks). Reports group count, the smallest group, and how many
    groups/rows fall below k = {_KANON_K}; a release gate is
    rows_below_k == 0 (suppress or generalize those rows otherwise).

    Scale: one map-side-combined aggregate to QI grain, then a
    constant-size roll-up of that — the audit costs one scan however
    many QI combinations exist, and the banding column shows the
    generalization lever (widen the band → bigger groups)."""
    g = (
        T(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("acctbal_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("group_size").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("group_size") < _KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("groups_below_k"),
        F.sum(F.when(F.col("group_size") < _KANON_K, F.col("group_size")).otherwise(0))
        .cast("long")
        .alias("rows_below_k"),
    )


@register(
    "incremental_status_rollup",
    """
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY 1
    """,
    tags=("cdc", "agg", "incremental"),
)
def incremental_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-status revenue
    rollup over snapshot A is UPDATED to snapshot B by applying only
    the CDC delta — retract each changed key's old contribution, add
    its new one — never rescanning the unchanged fact mass. The oracle
    recomputes the rollup directly from snapshot B, so the hash match
    IS the proof that delta maintenance converges to the full answer.

    At 100 TB this is the nightly-rollup pattern: maintenance cost is
    O(|delta|) + a keyed combine against the (tiny) materialized
    aggregate, versus O(|fact|) for the recompute the reference's
    full-refresh loads pay (reference: dags/etl.py drop/create+insert).
    Snapshots reuse cdc_orders_snapshot_diff's deterministic pair;
    signed contributions are exact integer cents, so retract+add
    cancels without FP residue."""
    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    old = base.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 100 == 50, "X").otherwise(F.col("o_orderstatus")),
    )
    new = base.filter(F.col("o_orderkey") % 97 != 0)
    # the materialized view over snapshot A (in production this is READ
    # from storage, not rebuilt — it is tiny: one row per status)
    view_a = old.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    # CDC delta rows: keys present in exactly one snapshot or changed.
    # Retractions carry sign -1, additions +1; unchanged keys drop out
    # BEFORE any aggregation, so delta size bounds the work.
    o = old.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("os"),
        F.col("cents").alias("oc"),
    )
    n = new.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("ns"),
        F.col("cents").alias("nc"),
    )
    j = o.join(n, "k", "full_outer")
    changed = j.filter(
        F.col("os").isNull()
        | F.col("ns").isNull()
        | ~F.col("os").eqNullSafe(F.col("ns"))
        | ~F.col("oc").eqNullSafe(F.col("nc"))
    )
    retract = changed.filter(F.col("os").isNotNull()).select(
        F.col("os").alias("o_orderstatus"), F.lit(-1).alias("sgn"), F.col("oc").alias("cents")
    )
    add = changed.filter(F.col("ns").isNotNull()).select(
        F.col("ns").alias("o_orderstatus"), F.lit(1).alias("sgn"), F.col("nc").alias("cents")
    )
    delta = (
        retract.unionAll(add)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("sgn").cast("long").alias("d_n"),
            F.sum(F.col("sgn") * F.col("cents")).cast("long").alias("d_cents"),
        )
    )
    return (
        view_a.join(delta, "o_orderstatus", "full_outer")
        .select(
            F.col("o_orderstatus").alias("status"),
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce("revenue_cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0)))
            .cast("long")
            .alias("revenue_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )


def _scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of customer balances in integer cents: the seed
    dimension valid from 2024-01-01, +1000 for custkey % 7 == 0 applied
    2024-02-01, then +500 for custkey % 5 == 0 applied 2024-03-01."""
    from datetime import datetime

    from etl_orders_spark.operators.merge import scd2_apply

    base = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    dim = (
        base.withColumn("valid_from", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    upd1 = base.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "bal_cents", F.col("bal_cents") + 1000
    )
    upd2 = base.filter(F.col("c_custkey") % 5 == 0).withColumn(
        "bal_cents", F.col("bal_cents") + 500
    )
    hist = scd2_apply(dim, upd1, ["c_custkey"], datetime(2024, 2, 1))
    return scd2_apply(hist, upd2, ["c_custkey"], datetime(2024, 3, 1))


@register(
    "scd2_point_in_time",
    """
    SELECT c_custkey,
           CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
             + CASE WHEN c_custkey % 7 = 0 THEN 1000 ELSE 0 END AS bal_cents,
           CASE WHEN c_custkey % 7 = 0 THEN '2024-02-01' ELSE '2024-01-01' END AS since
    FROM customer
    """,
    tags=("merge", "scd2", "time"),
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over an SCD2 dimension: build a three-generation
    history (initial load, a +1000-cents batch for custkey%7 at Feb 1,
    a +500-cents batch for custkey%5 at Mar 1 — operators/merge
    scd2_apply), then read the table AS OF Feb 15 (snapshot_as_of).
    The visible state must contain exactly the Feb-1 version for %7
    keys and the initial version for everyone else, with the Mar-1
    batch invisible — which the oracle states in closed form over the
    raw customer table, so the hash match proves interval bookkeeping
    (close-at-open, NULL = current) reconstructs the past exactly.

    Scale: the as-of read is a pure filter on (valid_from, valid_to) —
    it pushes into the history scan with no join or shuffle; history
    written time-ordered lets parquet min/max skip closed generations.
    The customer scan appears twice in the executed plan (dim seed +
    update batches derive from one base) — a deliberate demo artifact:
    a real deployment reads the persisted history table, it doesn't
    rebuild the dimension from source inside the query."""
    from datetime import datetime

    from etl_orders_spark.operators.merge import snapshot_as_of

    hist = _scd2_customer_history(spark, sf_dir)
    return snapshot_as_of(hist, datetime(2024, 2, 15)).select(
        "c_custkey",
        "bal_cents",
        F.date_format("valid_from", "yyyy-MM-dd").alias("since"),
    )


@register(
    "scd2_enrich_orders_asof",
    """
    WITH base AS (
      SELECT c_custkey, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
      FROM customer
    )
    SELECT o.o_orderkey, b.c_custkey,
           CASE CAST(o.o_orderkey % 3 AS INTEGER)
             WHEN 0 THEN b.bal
             WHEN 1 THEN CASE WHEN b.c_custkey % 7 = 0 THEN b.bal + 1000 ELSE b.bal END
             ELSE CASE WHEN b.c_custkey % 5 = 0 THEN b.bal + 500
                       WHEN b.c_custkey % 7 = 0 THEN b.bal + 1000
                       ELSE b.bal END
           END AS bal_cents_asof
    FROM orders o JOIN base b ON o.o_custkey = b.c_custkey
    """,
    tags=("merge", "scd2", "time", "join", "range"),
    bench=True,
)
def scd2_enrich_orders_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fact SCD2 temporal enrichment — the staple warehouse join
    scd2_point_in_time's single snapshot doesn't cover: each ORDER is
    enriched with the dimension version valid AT ITS OWN event time.
    The same three-generation customer history as scd2_point_in_time
    (initial load; +1000 cents for custkey%7 at Feb 1; +500 cents for
    custkey%5 at Mar 1) joins facts whose synthetic event time buckets
    by o_orderkey%3 into Jan 15 / Feb 15 / Mar 15 — so every fact picks
    a DIFFERENT generation depending on (key mods, time bucket), and
    the oracle states the expected enriched value in closed form over
    the raw tables. A hash match proves the interval-containment join
    resolves every fact to exactly one version (close-at-open
    boundaries: a version is live on [valid_from, valid_to)).

    Scale: this is an EQUI-join on the dimension key with the interval
    containment as a residual predicate — shuffle/broadcast hash join
    on c_custkey, never a range nested loop; each key carries at most
    its few versions, so the residual scans a handful of rows per
    probe. That plan shape holds at any fact count, which is why SCD2
    beats snapshot-per-day copies at 100 TB. The customer scan appears
    three times in the executed plan (dim seed + both update batches
    derive from one base) — the same deliberate demo artifact as
    scd2_point_in_time: a real deployment reads the persisted history
    table, it doesn't rebuild the dimension from source inside the
    query."""
    hist = _scd2_customer_history(spark, sf_dir)

    facts = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.element_at(
            F.array(
                F.lit("2024-01-15"), F.lit("2024-02-15"), F.lit("2024-03-15")
            ),
            (F.col("o_orderkey") % 3 + 1).cast("int"),
        ).cast("timestamp").alias("event_ts"),
    )
    return (
        facts.join(hist, facts["o_custkey"] == hist["c_custkey"])
        .filter(
            (F.col("event_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("event_ts") < F.col("valid_to")))
        )
        .select(
            "o_orderkey",
            "c_custkey",
            F.col("bal_cents").alias("bal_cents_asof"),
        )
    )
