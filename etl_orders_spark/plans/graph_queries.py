"""Co-purchase graph analytics beyond the counting primitives
(triangles and PageRank live in core/time modules): bounded-depth
reachability and item-item similarity — the "customers also bought"
layer built from the same relational edges.

The reference's only graph is its task DAG (reference:
dags/etl.py:292-298); these generalize the join surface (SURVEY.md
§2.3) into iterative-shape queries expressed as unrolled,
key-partitioned joins — no driver-side iteration, no collect.

Determinism: every similarity score is floored to integer micro-units
from exact-in-double integers (sqrt/division are correctly-rounded
IEEE ops, identical across engines); all rankings tie-break on key
columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_orders_spark.operators.skew import cap_group_fanout
from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T

# Widest basket any pair generator will expand: pair fan-out is
# quadratic per order, so one pathological mega-basket (an order with
# 10k parts) would put cap-free generators 10^8 pairs on one reducer.
# TPC-H baskets are ≤7 parts at every SF, so the cap never fires on
# the test fixtures (oracles see identical inputs); at 100 TB it
# bounds worst-case fan-out at cap² per order.
_MEGA_BASKET_CAP = 64


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges: distinct ordered part pairs sharing
    an order. Keyed self-join on l_orderkey (co-partitionable); per-
    order distinct parts first so multi-line orders don't multiply."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.toDF("ok", "src")
    b = li.toDF("ok", "dst")
    return a.join(b, "ok").filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()


_KHOP_SAMPLE_MOD = 50  # sources = parts with key % MOD == 0 (landmark sample)
_KHOP_SAMPLE_MOD_BOUNDED = 500  # 10x fewer landmarks: the oracle-at-sf0.1 form

_KHOP_EDGE_CTES = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


def _khop_sql(sample_mod: int) -> str:
    """The exact 1/2/3-hop reach report over a mod-sampled landmark
    set, as one DuckDB statement (shared by the full and bounded
    registrations so the two can never drift)."""
    return (
        _KHOP_EDGE_CTES
        + f""",
    s AS (SELECT DISTINCT src FROM e WHERE src % {sample_mod} = 0),
    h1 AS (SELECT e.src, e.dst FROM e JOIN s ON e.src = s.src),
    c2 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM h1
        UNION ALL
        SELECT h1.src AS src, e.dst AS dst FROM h1 JOIN e ON h1.dst = e.src
      ) u WHERE dst <> src
    ),
    c3 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM c2
        UNION ALL
        SELECT c2.src AS src, e.dst AS dst FROM c2 JOIN e ON c2.dst = e.src
      ) u WHERE dst <> src
    )
    SELECT s.src AS partkey,
           CAST(COALESCE(n1.n, 0) AS BIGINT) AS n_1hop,
           CAST(COALESCE(n2.n, 0) AS BIGINT) AS n_2hop,
           CAST(COALESCE(n3.n, 0) AS BIGINT) AS n_3hop
    FROM s
    LEFT JOIN (SELECT src, COUNT(*) AS n FROM h1 GROUP BY 1) n1 ON s.src = n1.src
    LEFT JOIN (SELECT src, COUNT(*) AS n FROM c2 GROUP BY 1) n2 ON s.src = n2.src
    LEFT JOIN (SELECT src, COUNT(*) AS n FROM c3 GROUP BY 1) n3 ON s.src = n3.src
    """
    )


def _khop_report(spark: SparkSession, sf_dir: str, sample_mod: int) -> DataFrame:
    """Shared Spark plan for the exact k-hop reach report (see
    khop_reachability_parts for the full design notes)."""
    e = _edges(spark, sf_dir).localCheckpoint(eager=True)
    s = e.select("src").filter(F.col("src") % sample_mod == 0).distinct()
    h1 = e.join(s, "src").select("src", "dst").localCheckpoint(eager=True)

    def expand(cum: DataFrame) -> DataFrame:
        step = (
            cum.withColumnRenamed("dst", "mid")
            .join(e.toDF("mid", "dst2"), "mid")
            .select("src", F.col("dst2").alias("dst"))
        )
        return cum.unionByName(step).filter(F.col("dst") != F.col("src")).distinct()

    c2 = expand(h1).localCheckpoint(eager=True)
    c3 = expand(c2)

    def counts(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias(name))

    return (
        s.join(counts(h1, "n_1hop"), "src", "left")
        .join(counts(c2, "n_2hop"), "src", "left")
        .join(counts(c3, "n_3hop"), "src", "left")
        .select(
            F.col("src").alias("partkey"),
            F.coalesce("n_1hop", F.lit(0)).cast("long").alias("n_1hop"),
            F.coalesce("n_2hop", F.lit(0)).cast("long").alias("n_2hop"),
            F.coalesce("n_3hop", F.lit(0)).cast("long").alias("n_3hop"),
        )
    )


@register(
    "khop_reachability_parts",
    _khop_sql(_KHOP_SAMPLE_MOD),
    tags=("graph", "join", "analytics"),
)
def khop_reachability_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative k-hop neighborhood sizes (k=1..3) from a landmark
    sample of source parts — the reach/influence metric behind
    recommendation coverage, as unrolled frontier joins.

    Each hop is one join keyed on the frontier's dst (shuffle on node
    id) plus a distinct — never a driver loop. The landmark sample
    (key % 50) bounds the frontier tables at |sources| × |V| while
    still traversing the full edge set; at 100 TB the next step is the
    HyperANF move — replace the exact distinct per source with a
    mergeable HLL sketch (the hll_* queries show that primitive) so
    the frontier state drops to |sources| × sketch bytes. Self is
    excluded from every cumulative set.

    The edge set and each cumulative frontier are consumed by TWO
    downstream subtrees (the next expansion and its own count), so
    they materialize once via eager localCheckpoint (ContextCleaner-
    reclaimed when the reference drops; a bare persist would leak
    cached blocks across invocations in a long-lived session) —
    otherwise the expansion lineage replays the full edge build per
    consumer (measured 38 lineitem scans without it). The residual
    cost is the 3-hop frontier expansion itself (frontier x degree
    candidate pairs before the distinct) — irreducible for EXACT reach
    on a dense co-purchase graph; the HyperANF/HLL form above is the
    documented scale path. The DuckDB twin tracks the Spark plan's
    frontier volume, so at sf0.1 its c3 expansion spills past the
    oracle box (documented infra limit — the Spark side finishes in
    seconds); `khop_reachability_bounded` below is the same report
    over 10x fewer landmarks, whose oracle IS tractable at sf0.1,
    keeping the family hash-green across every sweep SF."""
    return _khop_report(spark, sf_dir, _KHOP_SAMPLE_MOD)


@register(
    "khop_reachability_bounded",
    _khop_sql(_KHOP_SAMPLE_MOD_BOUNDED),
    tags=("graph", "join", "analytics"),
)
def khop_reachability_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`khop_reachability_parts` over a 10x-sparser landmark sample
    (key % 500): the identical Spark plan and the identical SQL shape
    (both generated from the same helpers, so they cannot drift), with
    frontier volume — and therefore the DuckDB oracle's memory —
    scaled down by the landmark count. This is the registration that
    keeps the exact-reach family ORACLE-GREEN at sf0.1, where the full
    sample's oracle-side c3 expansion exceeds the oracle box (the
    engine side was never the problem). Landmark-count-proportional
    work is also the real-world scale lever for exact reach: reach
    reports at 100 TB run over sampled landmarks or switch to the
    HyperANF sketch twin."""
    return _khop_report(spark, sf_dir, _KHOP_SAMPLE_MOD_BOUNDED)


@register(
    "khop_reachability_sketch",
    None,  # HLL estimates are engine-specific — verified against the
    # exact twin with an error-bound test (tests/test_sketch.py)
    tags=("graph", "sketch", "analytics"),
)
def khop_reachability_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF twin of `khop_reachability_parts`: the SAME landmark
    reach report (cumulative 1/2/3-hop neighborhood sizes, self
    excluded) with per-node HLL sketches instead of exact frontier
    sets — the documented scale path, now implemented. The exact
    form's irreducible cost is the 3-hop (source, reached) pair
    expansion, toward |S|·|V| rows on a dense co-purchase graph; here
    every node carries a fixed 2^10-register sketch and each hop is
    one keyed join + `hll_union_agg`, so state is |V| × sketch bytes
    at any density. Estimates land within ~3.3% (HLL standard error at lgK=10;
    exact in sparse mode for small neighborhoods) — the error-bound
    test pins ≤5% mean absolute relative error vs the exact twin.

    Measured crossover (sf0.1, local[32]): the sketch computes reach
    for ALL 20k nodes in ~14s warm (the landmark filter is applied at
    the end, for free); the exact form takes 236s at the all-node
    grain because its frontier pair volume scales with the number of
    sources. Restricted to the 400-landmark sample the exact form
    wins (~4s — its work shrinks with |S|, the sketch's does not), so
    both twins stay registered: exact for sampled landmarks at test
    scale, HyperANF for all-node or dense-graph reach at 100 TB.
    """
    from etl_orders_spark.operators.graph import hyperanf_reach

    reach = hyperanf_reach(_edges(spark, sf_dir))
    return (
        reach.filter(F.col("node") % _KHOP_SAMPLE_MOD == 0)
        .select(
            F.col("node").alias("partkey"),
            F.col("est_1hop").alias("n_1hop_est"),
            F.col("est_2hop").alias("n_2hop_est"),
            F.col("est_3hop").alias("n_3hop_est"),
        )
    )


_COSINE_TOPK = 5


@register(
    "item_item_cosine_topk",
    _KHOP_EDGE_CTES
    + f""",
    deg AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS d FROM li GROUP BY 1),
    sup AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS support
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT pa AS i, pb AS j, support FROM sup
      UNION ALL
      SELECT pb AS i, pa AS j, support FROM sup
    ),
    scored AS (
      SELECT b.i, b.j, b.support,
             CAST(FLOOR(b.support / SQRT(CAST(di.d * dj.d AS DOUBLE)) * 1000000.0) AS BIGINT) AS cos_micro
      FROM sym b JOIN deg di ON b.i = di.pk JOIN deg dj ON b.j = dj.pk
      WHERE b.support >= 2
    )
    SELECT i AS partkey, j AS similar_partkey, support, cos_micro
    FROM (
      SELECT i, j, support, cos_micro,
             ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos_micro DESC, j) AS rk
      FROM scored
    ) r WHERE rk <= {_COSINE_TOPK}
    """,
    tags=("graph", "similarity", "topk", "analytics"),
    bench=True,
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 co-purchase neighbors
    per part by cosine over order-membership vectors — cos(i,j) =
    support_ij / √(deg_i·deg_j), computed only for pairs that actually
    co-occur.

    Candidate generation is a per-basket pair expansion over the
    sorted part array (groupBy orderkey -> array_sort -> indexed
    nested transform emitting i<j pairs map-side). The orderkey
    SELF-JOIN this lane shipped with rediscovered the same pairs at
    the cost of two more lineitem-grain exchanges and a sort-merge
    join — the basket aggregate instead RIDES cap_group_fanout's
    orderkey exchange (hash partitioning already clusters the group),
    and the pair explode is stage-local. The checkpoint shrinks from
    lineitem grain to basket grain with it.

    support ≥ 2 prunes noise pairs before the degree joins; the top-k
    window partitions by item (no global sort). Baskets are capped at
    _MEGA_BASKET_CAP parts (cap_group_fanout; never fires on TPC-H's
    ≤7-part baskets so the oracle sees identical input) which also
    bounds the per-basket expansion at C(cap, 2), and the degree join
    broadcasts (|P| ≪ |lineitem|). Scores floor to micro-units from
    exact-in-double integers; ties break on the neighbor key."""
    li = cap_group_fanout(
        T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
        "l_partkey",
        _MEGA_BASKET_CAP,
        distinct=True,
    )
    from etl_orders_spark.operators.materialize import cache_stage

    # basket-grain (= order count, ≤ cap parts each); feeds the degree
    # aggregate AND the pair expansion — materialized once
    baskets = cache_stage(
        li.groupBy(F.col("l_orderkey").alias("ok")).agg(
            F.array_sort(F.collect_list("l_partkey")).alias("ps")
        ),
        "item_item_cosine_topk.baskets",
    )
    deg = (
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # all i<j pairs within a basket, map-side (ps is sorted, so the
    # (element, index) transform emits each unordered pair once with
    # pa < pb by construction)
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    sup = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    # score each UNORDERED pair once (cosine is symmetric), then emit
    # both directions via a row-local explode — a union of the two
    # projections would plan the support aggregation twice (exchange
    # reuse does not fire across the union's renamed branches; measured
    # 2x the heavy stage at 10x scale), while explode duplicates rows
    # inside the same stage at zero extra shuffles
    di = deg.toDF("pa", "di")
    dj = deg.toDF("pb", "dj")
    scored_u = (
        sup.join(F.broadcast(di), "pa")
        .join(F.broadcast(dj), "pb")
        .select(
            "pa",
            "pb",
            "support",
            F.floor(
                F.col("support")
                / F.sqrt((F.col("di") * F.col("dj")).cast("double"))
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("cos_micro"),
        )
    )
    scored = scored_u.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("i"),
                    F.col("pb").alias("j"),
                    F.col("support"),
                    F.col("cos_micro"),
                ),
                F.struct(
                    F.col("pb").alias("i"),
                    F.col("pa").alias("j"),
                    F.col("support"),
                    F.col("cos_micro"),
                ),
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.support", "e.cos_micro")
    w = Window.partitionBy("i").orderBy(F.desc("cos_micro"), "j")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _COSINE_TOPK)
        .select(
            F.col("i").alias("partkey"),
            F.col("j").alias("similar_partkey"),
            "support",
            "cos_micro",
        )
    )


@register(
    "pmi_copurchase_parts",
    _KHOP_EDGE_CTES
    + """,
    deg AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS d FROM li GROUP BY 1),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li),
    sup AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS support
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT s.pa AS part_a, s.pb AS part_b, s.support,
           CAST(FLOOR(LN(CAST(s.support AS DOUBLE) * nb.n_baskets
                / (CAST(da.d AS DOUBLE) * db.d)) * 1000.0) AS BIGINT) AS pmi_milli
    FROM sup s JOIN deg da ON s.pa = da.pk JOIN deg db ON s.pb = db.pk, nb
    WHERE s.support >= 3
    """,
    tags=("graph", "basket", "analytics"),
)
def pmi_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of co-purchased part pairs:
    ln(P(a,b)/(P(a)P(b))) over order baskets, in floored milli-nats —
    positive PMI marks genuine complements that raw support conflates
    with mere popularity (the normalization item_item_cosine doesn't
    apply). support ≥ 3 keeps the log out of small-sample noise.

    Scale: same inverted co-occurrence shape as the basket family —
    the orderkey self-join generates only realized pairs (capped at
    _MEGA_BASKET_CAP parts per basket — never fires on the fixtures),
    degrees broadcast, and the single ln evaluates one identical
    expression from exact integers both engines."""
    from etl_orders_spark.operators.materialize import cache_stage

    li = cache_stage(  # edge set feeds degree/total AND both join sides
        cap_group_fanout(
            T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
            "l_orderkey",
            "l_partkey",
            _MEGA_BASKET_CAP,
            distinct=True,
        ),
        "pmi_copurchase_parts.li",
    )
    deg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    nb = li.agg(F.countDistinct("l_orderkey").cast("long").alias("n_baskets"))
    a = li.toDF("ok", "pa")
    b = li.toDF("ok", "pb")
    sup = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    da = deg.toDF("pa", "da")
    db = deg.toDF("pb", "db")
    pmi = F.floor(
        F.log(
            F.col("support").cast("double")
            * F.col("n_baskets")
            / (F.col("da").cast("double") * F.col("db"))
        )
        * F.lit(1000.0)
    ).cast("long")
    return (
        sup.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "support",
            pmi.alias("pmi_milli"),
        )
    )
