"""Time & events queries: JSON extraction, tumbling/sliding windows,
sessionization, as-of and range joins (SURVEY.md §2.5, §2.3 J4).

Batch forms over the `events` table — all SQL-expressible, hence
oracle-checked; the streaming twins live in
etl_orders_spark/streaming/ and reuse the same aggregation logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_orders_spark.operators.asof import asof_join, range_join
from etl_orders_spark.operators.sessionize import SESSION_GAP_MS, session_stats
from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T


def _k_stats_by_event_type(spark: SparkSession, sf_dir: str, k: Column) -> DataFrame:
    """Per event_type: event count, and the sum and 2-decimal mean of
    the extracted props value ``k``."""
    return (
        T(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 2).alias("avg_k"),
        )
    )


@register(
    "json_extract_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "events", "json"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 string-embedded JSON (reference envelope analog: dags/
    etl.py:34-40): `get_json_object` extracts JVM-side, no UDF, then a
    plain aggregate."""
    k = F.get_json_object("props", "$.k").cast("long")
    return _k_stats_by_event_type(spark, sf_dir, k)


@register(
    "tumbling_hourly_events",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window-time"),
    bench=True,
)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window aggregation via native `F.window` (epoch-aligned,
    so it equals date_trunc for round widths). The builder is shared
    with the Structured Streaming twin (streaming/windows.py) — one
    definition, two execution modes."""
    from etl_orders_spark.streaming.windows import tumbling_agg

    return tumbling_agg(T(spark, sf_dir, "events")).withColumnRenamed(
        "win_start", "hour_start"
    )


@register(
    "sliding_window_counts",
    """
    SELECT CAST(FLOOR(epoch_ms(CAST(ts AS TIMESTAMP)) / 600000) * 600 - i * 600 AS BIGINT) AS win_start_s,
           COUNT(*) AS n
    FROM events CROSS JOIN (VALUES (0), (1), (2)) offsets(i)
    GROUP BY 1
    """,
    tags=("events", "window-time"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (30 min width / 10 min slide): every event lands
    in exactly 3 epoch-aligned windows. Output keyed by epoch seconds —
    integer math, immune to timestamp-zone drift between engines.
    Shared builder with the streaming twin (streaming/windows.py)."""
    from etl_orders_spark.streaming.windows import sliding_counts

    return sliding_counts(T(spark, sf_dir, "events"))


# events flagged is_new where a user's session starts (first event, or
# a gap over 30 minutes), ordered by (ts, event_id)
_SESSION_FLAG_SQL = f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
                       OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )"""


@register(
    "session_stats_events",
    _SESSION_FLAG_SQL
    + """, sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS duration_ms
    FROM sessions
    GROUP BY user_id, session_idx
    """,
    tags=("events", "window", "sessionize"),
    bench=True,
)
def session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) collapsed to session rows —
    the batch twin of streaming session windows."""
    return session_stats(T(spark, sf_dir, "events"), "user_id", "ts", "event_id")


@register(
    "asof_latest_order",
    """
    WITH m AS (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
    )
    SELECT event_id, user_id, o_orderkey AS last_order_key,
           CAST(o_orderdate AS DATE) AS last_order_date
    FROM m WHERE rn = 1
    """,
    tags=("join", "asof", "events"),
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each event picks the user's most recent
    order at event time. Spark lacks a native as-of; this is the
    join+window composition from operators/asof.py."""
    events = T(spark, sf_dir, "events")
    orders = T(spark, sf_dir, "orders")
    out = asof_join(
        events,
        orders,
        left_key="event_id",
        left_on="ts",
        right_on="o_orderdate",
        by_left="user_id",
        by_right="o_custkey",
        tie_break="o_orderkey",
        direction="backward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_order_key"),
        F.to_date("o_orderdate").alias("last_order_date"),
    )


@register(
    "range_join_followups",
    """
    SELECT e.user_id, COUNT(*) AS n_pairs
    FROM events e
    JOIN events f ON f.user_id = e.user_id
                 AND CAST(f.ts AS TIMESTAMP) > CAST(e.ts AS TIMESTAMP)
                 AND CAST(f.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
    GROUP BY e.user_id
    """,
    tags=("join", "range", "events"),
)
def range_join_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: event pairs within 10 minutes per user. The user_id
    equality keeps it a keyed join (the range is a join-side filter),
    so cost scales with per-user density, not n²."""
    e = T(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("ts").alias("e_ts"), F.col("event_id").alias("e_id")
    )
    f = T(spark, sf_dir, "events").select(
        F.col("user_id").alias("f_user"), F.col("ts").alias("f_ts"), F.col("event_id").alias("f_id")
    )
    pairs = range_join(
        e,
        f,
        "user_id",
        "f_user",
        (F.col("f_ts") > F.col("e_ts")) & (F.col("f_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


# --- event analytics: ordered funnels and retention cohorts -----------------


@register(
    "funnel_view_click_purchase",
    """
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    v AS (SELECT user_id, MIN(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS users_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS users_purchase
    """,
    tags=("events", "funnel", "analytics"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose first view precedes a
    click that precedes a purchase (strict event-time order, not mere
    co-occurrence). Each stage is an aggregate-then-join on user_id —
    the stage tables shrink monotonically, so every join after the
    first is small-side broadcastable at scale; nothing ever pays an
    unkeyed pairwise comparison."""
    from etl_orders_spark.operators.materialize import cache_stage

    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # v feeds the click join AND its own count, c feeds the purchase
    # join AND its count — materialize each user-grain stage table
    # once (the chained lineage otherwise re-runs earlier stages per
    # consumer: 6 event scans measured in the runtime plan for what
    # is logically 3 filtered passes)
    v = cache_stage(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view")),
        "funnel_view_click_purchase.v",
    )
    c = cache_stage(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click")),
        "funnel_view_click_purchase.c",
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").cast("long").alias("users_view"))
        .crossJoin(c.agg(F.count("*").cast("long").alias("users_click")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("users_purchase")))
    )


_COHORT_EPOCH = "2024-01-01"  # week-0 anchor for the driver events fixture


@register(
    "retention_cohorts_weekly",
    f"""
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
    ),
    f AS (
      SELECT user_id,
             CAST(FLOOR(DATEDIFF('day', DATE '{_COHORT_EPOCH}', MIN(d)) / 7) AS BIGINT) AS cohort_week
      FROM e GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(DATEDIFF('day', DATE '{_COHORT_EPOCH}', d) / 7) AS BIGINT) AS week
      FROM e
    )
    SELECT cohort_week, week, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM f JOIN a USING (user_id)
    GROUP BY cohort_week, week
    """,
    tags=("events", "cohort", "analytics"),
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week,
    counted as active in each later week. Two shuffles on user_id
    (first-seen aggregate, distinct user-weeks) + one keyed join; the
    output is cohorts x weeks — tiny regardless of input scale, which
    is what makes cohort dashboards cheap to refresh incrementally."""
    wk = lambda col: F.floor(  # noqa: E731
        F.datediff(col, F.lit(_COHORT_EPOCH).cast("date")) / 7
    ).cast("long")
    e = T(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d"))
    f = e.groupBy("user_id").agg(wk(F.min("d")).alias("cohort_week"))
    a = e.select("user_id", wk(F.col("d")).alias("week")).distinct()
    return (
        f.join(a, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.count("*").cast("long").alias("n_active"))
    )


@register(
    "attribution_click_to_purchase",
    """
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
    SELECT c.user_id, c.ts AS click_ts, v.ts AS conv_ts
    FROM e c JOIN e v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'purchase'
     AND c.ts <= v.ts AND c.ts >= v.ts - INTERVAL 1 HOUR
    """,
    tags=("events", "join", "attribution"),
)
def attribution_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/windows.attribute_conversions): every purchase matched
    to the same user's clicks in the preceding hour. ONE builder serves
    both modes — this oracle-checked batch form and the watermarked
    streaming form tested in test_streaming — so attribution logic
    can't drift between the backfill and the live path."""
    from etl_orders_spark.streaming.windows import attribute_conversions

    ev = T(spark, sf_dir, "events")
    return attribute_conversions(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )


_HIST_WIDTH, _HIST_BUCKETS = 2.0, 10


@register(
    "events_value_histogram",
    f"""
    SELECT LEAST(CAST(FLOOR(value / {_HIST_WIDTH}) AS BIGINT), {_HIST_BUCKETS - 1}) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("events", "agg", "histogram"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values with a clamped overflow
    bucket — one grouped aggregate (two-phase, constant result size),
    the shape dashboards bin on. Bucketing is FLOOR over a single
    double division, identical in both engines; no width_bucket
    dependency (DuckDB lacks it)."""
    ev = T(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / _HIST_WIDTH).cast("long"), F.lit(_HIST_BUCKETS - 1)
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@register(
    "activity_streaks_users",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
    ), isl AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
      FROM d
    ), streaks AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
    tags=("events", "window", "analytics"),
)
def activity_streaks_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user via the
    classic date-minus-row_number island anchor. One distinct on
    (user, day) then one keyed window — both shuffle on user_id only,
    and the day-grain distinct bounds state at 365 rows/user/year no
    matter how many raw events arrive."""
    from pyspark.sql import Window as W

    d = T(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    isl = d.withColumn("anchor", F.date_sub(F.col("d"), rn))
    streaks = isl.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


@register(
    "concurrent_sessions_peak",
    _SESSION_FLAG_SQL
    + """, numbered AS (
      -- (ts, event_id) ordering, matching the lag window: ts alone
      -- ties on same-timestamp events and the running sum would
      -- nondeterministically reassign session boundaries
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_idx, MIN(ts) AS s, MAX(ts) AS e
      FROM numbered GROUP BY user_id, session_idx
    ), pts AS (
      SELECT CAST(s AS DATE) AS day, s AS ts, 1 AS delta FROM sessions
      UNION ALL
      SELECT CAST(s AS DATE) AS day, e AS ts, -1 AS delta FROM sessions
    ), swept AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
      FROM pts
    )
    SELECT day, CAST(MAX(open_now) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY day
    """,
    tags=("events", "window", "sessionize", "analytics"),
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day by sweep line: sessionize
    (30-min gap), emit +1 at session start and -1 at session end
    (closed interval — starts sort before ends at equal timestamps, so
    a single-event session still registers concurrency 1; both points
    attributed to the start day so the sweep partitions cleanly by
    day), running-sum ordered by (ts, delta DESC) with a RANGE frame —
    tie groups collapse to one summed value, so the per-day max is
    deterministic in both engines. Every stage is keyed (user_id, then
    day): no global sort at any scale."""
    from pyspark.sql import Window as W

    sess = session_stats(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    )
    day = F.to_date("session_start").alias("day")
    pts = sess.select(day, F.col("session_start").alias("ts"), F.lit(1).alias("delta")).unionAll(
        sess.select(day, F.col("session_end").alias("ts"), F.lit(-1).alias("delta"))
    )
    w = (
        W.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = pts.select("day", F.sum("delta").over(w).alias("open_now"))
    return swept.groupBy("day").agg(F.max("open_now").cast("long").alias("peak_concurrent"))


_PR_DAMP, _PR_ITERS = 0.85, 3


def _transition_edges(ev: DataFrame) -> DataFrame:
    """Directed event-type transition edges weighted by count: for each
    user's time-ordered stream, (prev event_type -> event_type)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "src", F.lag("event_type").over(w)
    )
    return (
        steps.filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _pagerank_oracle() -> str:
    """Unrolled-PageRank SQL: the iteration count is a compile-time
    constant, so each step is one CTE — no recursion needed."""
    base = """
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
    ), steps AS (
      SELECT event_type AS dst,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      FROM ev
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM steps WHERE src IS NOT NULL GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS w_out FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM ev
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1.0 / n.n AS pr FROM nodes, n
    )"""
    for i in range(_PR_ITERS):
        base += f""", pr{i + 1} AS (
      SELECT nodes.node,
             (1.0 - {_PR_DAMP}) / n.n
             + {_PR_DAMP} * COALESCE(SUM(pr{i}.pr * e.w / outw.w_out), 0.0) AS pr
      FROM nodes CROSS JOIN n
      LEFT JOIN edges e ON e.dst = nodes.node
      LEFT JOIN outw ON outw.src = e.src
      LEFT JOIN pr{i} ON pr{i}.node = e.src
      GROUP BY nodes.node, n.n
    )"""
    return base + f"""
    SELECT node AS event_type, ROUND(pr, 6) AS pagerank FROM pr{_PR_ITERS}
    """


@register(
    "pagerank_event_types",
    _pagerank_oracle(),
    tags=("events", "graph", "iterative"),
)
def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph, 3 unrolled
    iterations (damping 0.85). The scale-bearing stage is the graph
    CONTRACTION — a keyed window + one aggregate collapse billions of
    raw events into an edges table keyed by event-type pairs — after
    which each iteration is a join on a table whose size is the number
    of distinct event types, independent of input scale. Dangling mass
    is dropped identically on both sides (pure link-follow formula)."""
    ev = T(spark, sf_dir, "events")
    edges = _transition_edges(ev).withColumn("w", F.col("w").cast("double"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    # the contracted edge/node tables are |event_types|-sized but their
    # lineage is the full events contraction — eager localCheckpoint
    # (ContextCleaner-reclaimed) so the unrolled iterations reuse them
    # instead of replaying the contraction each
    edges = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("w_out")).alias("p"))
        .localCheckpoint(eager=True)
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct().localCheckpoint(eager=True)
    n = nodes.count()
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("mass"))
        )
        pr = nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left").select(
            "node",
            (F.lit((1.0 - _PR_DAMP) / n) + F.lit(_PR_DAMP) * F.coalesce("mass", F.lit(0.0))).alias(
                "pr"
            ),
        )
    return pr.select(F.col("node").alias("event_type"), F.round("pr", 6).alias("pagerank"))


_PATHS_TOP = 10


@register(
    "top_session_paths",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
                       OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    ), tri AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER w2 AS e2,
             LEAD(event_type, 2) OVER w2 AS e3
      FROM numbered
      WINDOW w2 AS (PARTITION BY user_id, session_idx ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT {_PATHS_TOP}
    """,
    tags=("events", "sessionize", "analytics", "topk"),
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {TOP} three-step event paths WITHIN sessions (30-min gap):
    sessionize, slide a length-3 window down each session's ordered
    stream via lead(), aggregate path counts globally. Both windows are
    keyed by user (then session) — the only global operation is the
    final top-{TOP} over the path-count table, whose cardinality is
    bounded by |event_type|^3, not by input size."""
    from etl_orders_spark.operators.sessionize import sessionize
    from pyspark.sql import Window as W

    s = sessionize(T(spark, sf_dir, "events"), "user_id", "ts", "event_id")
    w2 = W.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    tri = s.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        tri.select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATHS_TOP)
    )


top_session_paths.__doc__ = top_session_paths.__doc__.format(TOP=_PATHS_TOP)


@register(
    "dau_mau_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (SELECT DISTINCT day FROM ud),
    mau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day > d.day - INTERVAL 28 DAY
      GROUP BY d.day
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT d.day, dau.dau, mau.mau,
           CAST(dau.dau * 1000 // mau.mau AS BIGINT) AS stickiness_milli
    FROM days d JOIN dau ON d.day = dau.day JOIN mau ON d.day = mau.day
    """,
    tags=("events", "timeseries", "analytics"),
    bench=True,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily actives over 28-day rolling
    actives, the engagement ratio product analytics watches. The fact
    stream first collapses to the distinct user-day grain (the only
    event-scale shuffle). The 28-day membership is NOT an inequality
    join (Spark plans that as a nested loop over |days| × |user-days|
    — quadratic); instead each user-day explodes into the ≤28 target
    days it contributes to (`sequence` + explode, a map stage), and
    one keyed distinct-count per target day finishes the job — linear
    in user-days, shuffled on day.

    Scale: user-day is the bounded intermediate (users × window days,
    ~3 orders of magnitude under raw events); the explode multiplies
    it by the window length only. Beyond exact-count scale the
    COUNT(DISTINCT) swaps for the mergeable HLL rollup
    (hll_rollup_total_users) with the same output schema. The oracle
    keeps the quadratic range-join formulation — readable SQL is the
    point there."""
    ud = (
        T(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    from etl_orders_spark.operators.materialize import cache_stage

    # user-day grain (the bounded intermediate); feeds the day spine,
    # the DAU count, AND the 28-day explode — staged so the event
    # scan + distinct run once instead of three times
    ud = cache_stage(ud, "dau_mau_stickiness.ud")
    days = ud.select("day").distinct()
    mau = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 27))).alias(
                "tday"
            ),
        )
        .groupBy(F.col("tday").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return (
        days.join(dau, "day")
        .join(mau, "day")
        .select("day", "dau", "mau", F.expr("dau * 1000 div mau").cast("long").alias("stickiness_milli"))
    )


@register(
    "signup_to_purchase_survival",
    """
    WITH su AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ), fp AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= su.signup_ts
      GROUP BY 1
    ), delay AS (
      SELECT su.user_id,
             CAST(CASE WHEN fp.purchase_ts IS NULL THEN NULL
                  ELSE CAST(fp.purchase_ts AS DATE) - CAST(su.signup_ts AS DATE) END AS BIGINT) AS days
      FROM su LEFT JOIN fp ON su.user_id = fp.user_id
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM delay),
    weeks AS (SELECT CAST(UNNEST(generate_series(0, 4)) AS BIGINT) AS week)
    SELECT w.week,
           CAST(SUM(CASE WHEN d.days IS NOT NULL AND d.days // 7 <= w.week THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           t.n_total,
           CAST((t.n_total - SUM(CASE WHEN d.days IS NOT NULL AND d.days // 7 <= w.week THEN 1 ELSE 0 END)) * 1000
                // t.n_total AS BIGINT) AS survival_milli
    FROM weeks w CROSS JOIN delay d CROSS JOIN t
    GROUP BY w.week, t.n_total
    """,
    tags=("events", "survival", "analytics"),
)
def signup_to_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-first-purchase survival curve: share of signed-up users
    still unconverted at the end of each week since signup (weeks
    0–4). Users with no qualifying purchase stay in the at-risk pool
    at every horizon — right-censored observations simply never leave
    the numerator, which is the correct treatment when every user's
    window extends past the horizon (the full KM product estimator
    only matters under staggered censoring).

    Scale: two event-scale aggregates keyed by user; the curve itself
    is a 5-row broadcast join against the per-user delay table —
    cost is horizons × users, with horizons a constant."""
    from etl_orders_spark.operators.materialize import cache_stage

    ev = T(spark, sf_dir, "events")
    # su feeds the purchase join AND the censoring join; delay feeds
    # the total count AND the horizon fan-out — materialize each
    # user-grain table once (the chained lineage otherwise replays
    # earlier stages per consumer: 4 event scans measured)
    su = cache_stage(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts")),
        "signup_to_purchase_survival.su",
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    delay = cache_stage(
        su.join(fp, "user_id", "left").select(
            "user_id",
            F.datediff(F.to_date("purchase_ts"), F.to_date("signup_ts"))
            .cast("long")
            .alias("days"),
        ),
        "signup_to_purchase_survival.delay",
    )
    t = delay.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    weeks = spark.range(0, 5).select(F.col("id").cast("long").alias("week"))
    conv = F.when(
        F.col("days").isNotNull() & (F.expr("days div 7") <= F.col("week")), 1
    ).otherwise(0)
    return (
        F.broadcast(weeks)
        .crossJoin(delay)
        .crossJoin(F.broadcast(t))
        .groupBy("week", "n_total")
        .agg(F.sum(conv).cast("long").alias("n_converted"))
        .select(
            "week",
            "n_converted",
            "n_total",
            F.expr("(n_total - n_converted) * 1000 div n_total")
            .cast("long")
            .alias("survival_milli"),
        )
    )


@register(
    "bounce_rate_daily",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
                       OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx,
             ts
      FROM flagged
    ), per AS (
      SELECT user_id, session_idx,
             CAST(MIN(ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS bounce_milli
    FROM per GROUP BY day
    """,
    tags=("events", "sessionize", "analytics"),
)
def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min gap rule, same
    sessionizer as session_stats_events) containing exactly one event,
    keyed by the session's start day — the engagement-quality metric
    next to DAU/MAU. Composes the existing sessionization operator;
    one user-keyed window then a day-grain aggregate."""
    from etl_orders_spark.operators.sessionize import session_stats

    per = session_stats(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    ).select(F.to_date("session_start").alias("day"), "n_events")
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return per.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        F.expr(
            "sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000 div count(*)"
        )
        .cast("long")
        .alias("bounce_milli"),
    )


@register(
    "session_entry_exit_flows",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
                       OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    ), numbered AS (
      SELECT user_id, session_idx, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_idx ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_idx ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM sess
    ), ends AS (
      SELECT user_id, session_idx,
             MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM ends GROUP BY 1, 2
    """,
    tags=("events", "sessionize", "analytics"),
)
def session_entry_exit_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry→exit flow matrix per session (which event type opens a
    session vs which closes it) — the Sankey feed behind landing/exit
    analysis. First/last events resolve via forward/backward
    ROW_NUMBER with (ts, event_id) tiebreaks, so simultaneous events
    order identically in both engines; sessions come from the same
    30-min-gap sessionizer as the rest of the time layer.

    Scale: the extra rank windows share the sessionizer's user-keyed
    shuffle (same partitioning, AQE reuses the exchange); the output
    is |event_type|² flows."""
    from etl_orders_spark.operators.sessionize import sessionize

    ev = T(spark, sf_dir, "events")
    sess = sessionize(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id",
        "ts",
        "event_id",
    )
    ws = Window.partitionBy("user_id", "session_idx")
    numbered = sess.select(
        "user_id",
        "session_idx",
        "event_type",
        F.row_number().over(ws.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number().over(ws.orderBy(F.desc("ts"), F.desc("event_id"))).alias("rn_d"),
    )
    ends = numbered.groupBy("user_id", "session_idx").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias("entry_type"),
        F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias("exit_type"),
    )
    return ends.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )


@register(
    "session_gap_sensitivity",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), gaps AS (
      SELECT user_id,
             epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM ev
    ), u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ev),
    g AS (
      SELECT CAST(SUM(CASE WHEN gap_ms > 5 * 60000 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(SUM(CASE WHEN gap_ms > 15 * 60000 THEN 1 ELSE 0 END) AS BIGINT) AS b15,
             CAST(SUM(CASE WHEN gap_ms > 30 * 60000 THEN 1 ELSE 0 END) AS BIGINT) AS b30,
             CAST(SUM(CASE WHEN gap_ms > 60 * 60000 THEN 1 ELSE 0 END) AS BIGINT) AS b60
      FROM gaps WHERE gap_ms IS NOT NULL
    )
    SELECT 5 AS gap_minutes, b5 + n_users AS n_sessions FROM g, u
    UNION ALL SELECT 15, b15 + n_users FROM g, u
    UNION ALL SELECT 30, b30 + n_users FROM g, u
    UNION ALL SELECT 60, b60 + n_users FROM g, u
    """,
    tags=("events", "sessionize", "analytics"),
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionizer parameter sensitivity: session counts at 5/15/30/60
    minute inactivity gaps from ONE window pass — every session count
    is (#inter-event gaps exceeding g) + (#users), so all four
    thresholds are conditional sums over the same lag column instead
    of four sessionization runs. The calibration curve read before
    fixing the 30-minute rule the rest of the time layer uses.

    Scale: one user-keyed lag window and a constant-size aggregate —
    a 4× cheaper sweep than re-running the sessionizer per gap."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # keep the null lags: each user's FIRST event has gap NULL, so the
    # user count falls out of the same window pass (#null gaps =
    # #users) — ONE event scan total, where a separate countDistinct
    # branch would pay a second scan and a cross join
    gaps = ev.select(
        (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))).alias("gap_ms")
    )

    def b(minutes: int) -> F.Column:
        return (
            F.sum(F.when(F.col("gap_ms") > minutes * 60000, 1).otherwise(0))
            .cast("long")
            .alias(f"b{minutes}")
        )

    base = gaps.agg(
        b(5),
        b(15),
        b(30),
        b(60),
        F.sum(F.when(F.col("gap_ms").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
    )
    # fan the 1-row aggregate out to 4 threshold rows with a row-local
    # explode: a union of 4 projections re-evaluates the whole
    # aggregate subtree per branch (measured 8 event scans in the
    # runtime plan — exchange reuse does not unify the renamed
    # branches), while explode duplicates inside the same stage
    return base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("int").alias("gap_minutes"),
                        (F.col(f"b{m}") + F.col("n_users"))
                        .cast("long")
                        .alias("n_sessions"),
                    )
                    for m in (5, 15, 30, 60)
                ]
            )
        ).alias("e")
    ).select("e.*")


@register(
    "promo_revenue_share_monthly",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(SUM(CASE WHEN l_discount > 0 THEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(SUM(CASE WHEN l_discount > 0 THEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) ELSE 0 END) * 1000
                // SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS promo_share_milli
    FROM lineitem GROUP BY 1
    """,
    tags=("agg", "timeseries", "analytics"),
)
def promo_revenue_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue sold under any discount, by ship month — the
    promo-dependence trend a merchandising team tracks. One
    map-side-combinable conditional aggregate at month grain; shares
    are integer milli."""
    li = T(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    promo = F.when(F.col("l_discount") > 0, cents).otherwise(F.lit(0))
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(
            F.sum(cents).cast("long").alias("rev_cents"),
            F.sum(promo).cast("long").alias("promo_cents"),
        )
        .select(
            "month",
            "rev_cents",
            "promo_cents",
            F.expr("promo_cents * 1000 div rev_cents").cast("long").alias("promo_share_milli"),
        )
    )


@register(
    "engagement_decay_scores",
    """
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events),
    ev AS (
      SELECT user_id,
             CAST(FLOOR(POWER(0.5, CAST(mx.d1 - CAST(ts AS DATE) AS DOUBLE) / 7.0) * 1000000.0) AS BIGINT) AS w
      FROM events, mx
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w) AS BIGINT) AS decay_score_micro
    FROM ev GROUP BY user_id
    """,
    tags=("events", "analytics"),
)
def engagement_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per user: each event counts
    0.5^(age_days/7) — a 7-day half-life — so the score is dominated
    by the latest week but never forgets history entirely; the ranking
    signal behind "active users" lists that a raw 7-day count whipsaws.
    Ages anchor to the dataset's last day (no wall-clock dependence).

    Per-event weights floor to integer micro-units BEFORE the per-user
    sum, so distributed accumulation order cannot move the hash; the
    power evaluates one identical double expression per row in both
    engines. One map stage + one user-keyed aggregate."""
    ev = T(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("d1"))
    w = F.floor(
        F.pow(F.lit(0.5), F.datediff(F.col("d1"), F.to_date("ts")).cast("double") / F.lit(7.0))
        * F.lit(1000000.0)
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", w.alias("w"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("w").cast("long").alias("decay_score_micro"),
        )
    )


@register(
    "activity_heatmap_dow_hour",
    """
    SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT) AS dow_idx,
           CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour_utc,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "agg", "analytics"),
)
def activity_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday × hour activity heatmap (the dashboard grid behind
    staffing and batch-window decisions): one map-side-combinable
    aggregate to at most 7×24 cells. Weekday uses the portable
    epoch-modulo form (0=Thursday) and hours are UTC — the session
    timezone is pinned, so extraction is identical in both engines."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("long")
        .alias("dow_idx"),
        F.hour("ts").cast("long").alias("hour_utc"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))


@register(
    "return_latency_median",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
                       OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), starts AS (
      SELECT user_id, MIN(ts) AS session_start
      FROM (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
      ) s GROUP BY user_id, session_idx
    ), gaps AS (
      SELECT user_id,
             epoch_ms(session_start)
             - LAG(epoch_ms(session_start)) OVER (PARTITION BY user_id ORDER BY session_start) AS gap_ms
      FROM starts
    ), g AS (
      SELECT user_id, gap_ms,
             ROW_NUMBER() OVER (ORDER BY gap_ms, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM gaps WHERE gap_ms IS NOT NULL
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN gap_ms END) // 60000 AS BIGINT) AS median_return_minutes
    FROM g
    """,
    tags=("events", "sessionize", "analytics"),
)
def return_latency_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median time between a user's consecutive sessions (session
    start to next session start): the return-latency number that
    anchors push/re-engagement timing, complementing the
    gap-sensitivity sweep. Exact lower median via the rank window
    over inter-session gaps; reported in whole minutes.

    Scale: sessionization and the inter-session lag share the
    user-keyed shuffle; the final median ranks the session-gap table
    through the two-pass range-partitioned rank (operators/rank.py)
    — no single-partition window even though gaps grow with users."""
    starts = session_stats(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    ).select("user_id", "session_idx", "session_start")
    wg = Window.partitionBy("user_id").orderBy("session_start")
    gaps = starts.select(
        "user_id",
        (
            F.unix_millis("session_start")
            - F.unix_millis(F.lag("session_start").over(wg))
        ).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    from etl_orders_spark.operators.rank import two_pass_rank

    ranked = two_pass_rank(gaps, [F.col("gap_ms"), F.col("user_id")], rank_col="rk")
    # count from the RANKED output (row-preserving): it reads
    # two_pass_rank's internal stage, where counting `gaps`
    # directly would replay the whole sessionization lineage a
    # second time (the multi-consumer re-scan the audit hunts)
    nn = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = ranked.crossJoin(F.broadcast(nn))
    return g.agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.expr("max(CASE WHEN rk = (n + 1) div 2 THEN gap_ms END) div 60000")
        .cast("long")
        .alias("median_return_minutes"),
    )


@register(
    "props_key_coverage",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS coverage_milli
    FROM events GROUP BY event_type
    """,
    tags=("events", "json", "dq"),
)
def props_key_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-drift guard: per event type, the share
    of events whose JSON props actually contain the key `k` that
    downstream queries extract — the coverage number that catches a
    producer silently dropping or renaming a field (the plain
    row-count DQ gate can't see inside the JSON). JVM-side
    get_json_object, one conditional aggregate."""
    ev = T(spark, sf_dir, "events")
    has_k = F.get_json_object("props", "$.k").isNotNull()
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(has_k, 1).otherwise(0)).cast("long").alias("n_with_k"),
        F.expr(
            "sum(CASE WHEN get_json_object(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END) * 1000 div count(*)"
        )
        .cast("long")
        .alias("coverage_milli"),
    )


@register(
    "variant_extract_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "events", "json", "variant"),
)
def variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same embedded-JSON aggregate through Spark 4's VARIANT type:
    parse_json materializes the open-schema binary encoding once,
    variant_get path-extracts with a type cast. Shares
    json_extract_props' oracle verbatim, so the hash match proves the
    VARIANT path agrees bit-for-bit with the string-JSON path.

    Scale: this is the modern semi-structured layout — at 100 TB you
    store the VARIANT column in parquet (shredded), and path extraction
    becomes a pushed scan expression (the physical plans here already
    carry a PushedVariantExtractions slot); parsing text JSON per query
    is the legacy cost this type removes."""
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return _k_stats_by_event_type(spark, sf_dir, k)


# --- interval-overlap join (no equality key) --------------------------------
# J4's range join keeps an equi-key (user_id) and ranges within it;
# the harder shape is interval x interval OVERLAP with NO equality
# key at all — promo windows against shipment transit windows here.
# The scalable construction is bucket banding: replicate each
# interval to the fixed-width time buckets it spans, hash-join on
# bucket, filter true overlap, and count each pair exactly ONCE by
# keeping it only in the bucket of greatest(start_a, start_b) — which
# lies inside both intervals whenever they overlap, so no DISTINCT
# exchange is ever needed. Replication factor = interval span /
# bucket width (bounded and tunable); both sides stay keyed, so the
# plan survives BOTH sides being large — the regime where the
# broadcast range join and the sort-based IEJoin single-node forms
# give out.
_IOV_BUCKET_DAYS = 30
_IOV_N_PROMOS = 24
_IOV_PROMO_EVERY = 90  # days between promo starts
_IOV_PROMO_LEN = 13  # p_end = p_start + 13 (14-day window)
_IOV_EPOCH = "1970-01-01"
_IOV_BASE = "1995-01-01"


def _iov_oracle() -> str:
    return f"""
    WITH promos AS (
      SELECT CAST(i AS BIGINT) AS promo_id,
             DATE '{_IOV_BASE}' + CAST({_IOV_PROMO_EVERY} * i AS INTEGER) AS p_start,
             DATE '{_IOV_BASE}' + CAST({_IOV_PROMO_EVERY} * i + {_IOV_PROMO_LEN} AS INTEGER) AS p_end
      FROM range(0, {_IOV_N_PROMOS}) t(i)
    ), li AS (
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1 - l_discount) AS rev,
             CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE)
               + CAST(l_orderkey % 20 + 3 AS INTEGER) AS r
      FROM lineitem
    ), hits AS (
      SELECT p.promo_id,
             CAST(COUNT(*) AS BIGINT) AS n_shipments,
             ROUND(SUM(rev), 2) AS revenue
      FROM li JOIN promos p ON li.s <= p.p_end AND p.p_start <= li.r
      GROUP BY p.promo_id
    )
    SELECT p.promo_id, p.p_start,
           CAST(COALESCE(h.n_shipments, 0) AS BIGINT) AS n_shipments,
           COALESCE(h.revenue, 0.0) AS revenue
    FROM promos p LEFT JOIN hits h USING (promo_id)
    """


@register(
    "interval_overlap_promo_shipments",
    _iov_oracle(),
    tags=("join", "range", "analytics"),
    bench=True,
)
def interval_overlap_promo_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join WITHOUT an equality key, by bucket
    banding: each shipment's transit window [shipdate, shipdate +
    (orderkey%20+3) days] is matched against every 14-day promo window
    it overlaps, per-promo shipment counts and revenue out. Both
    interval sets are replicated to the {W}-day buckets they span and
    hash-joined ON BUCKET; true overlap is a post-join filter, and
    the pair is kept only in bucket(greatest(both starts)) — a point
    inside both intervals whenever they overlap — so each pair counts
    exactly once with NO distinct exchange.

    100 TB posture: this is the keyed form of the range-join problem —
    replication factor is span/bucket_width (here <= 2 rows per
    interval), the join is an ordinary hash join on a dense integer
    key, and NEITHER side needs to fit in memory (the broadcast range
    join and single-node IEJoin both assume one side does). Bucket
    width is the knob: wider buckets = fewer replicas but more
    false-candidate pairs for the overlap filter; the right setting
    matches the typical interval span. Oracle: DuckDB evaluates the
    overlap predicate directly (its IEJoin), construction-independent
    of the banding."""
    promos = spark.range(_IOV_N_PROMOS).select(
        F.col("id").alias("promo_id"),
        F.date_add(
            F.to_date(F.lit(_IOV_BASE)), (F.col("id") * _IOV_PROMO_EVERY).cast("int")
        ).alias("p_start"),
        F.date_add(
            F.to_date(F.lit(_IOV_BASE)),
            (F.col("id") * _IOV_PROMO_EVERY + _IOV_PROMO_LEN).cast("int"),
        ).alias("p_end"),
    )
    epoch = F.to_date(F.lit(_IOV_EPOCH))
    li = T(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.to_date("l_shipdate").alias("s"),
        F.date_add(
            F.to_date("l_shipdate"), (F.col("l_orderkey") % 20 + 3).cast("int")
        ).alias("r"),
    )
    w = _IOV_BUCKET_DAYS

    def _bucketed(df, a, b):
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.datediff(F.col(a), epoch) / w),
                    F.floor(F.datediff(F.col(b), epoch) / w),
                )
            ),
        )

    pb = _bucketed(promos, "p_start", "p_end")
    lb = _bucketed(li, "s", "r")
    hits = (
        lb.join(pb, "bucket")
        .filter(
            (F.col("s") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("r"))
            # count-once: only in the bucket of the later start
            & (
                F.col("bucket")
                == F.floor(
                    F.datediff(F.greatest("s", "p_start"), epoch) / w
                )
            )
        )
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shipments"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )
    return (
        promos.join(F.broadcast(hits), "promo_id", "left")
        .select(
            "promo_id",
            "p_start",
            F.coalesce("n_shipments", F.lit(0)).cast("long").alias("n_shipments"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )
