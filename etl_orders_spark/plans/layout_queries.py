"""Physical-layout queries: the write-side/scan-side halves of the
100 TB story exercised end to end.

`write_parquet(partition_by=...)` has existed since round 1
(sources/writers.py) but no registered path ever READ a partitioned
layout back — so partition pruning, the single biggest scan lever at
scale, was asserted in docs only. `partition_pruned_revenue` closes
that loop: it stages the orders table partitioned by month into
scratch space, reads it back through a month predicate (which Spark
resolves at planning time to a single partition directory), and
aggregates. The oracle runs the same aggregate over the unpartitioned
source — identical results prove the layout round-trip is lossless,
and tests/test_layout_queries.py pins the pruned-scan plan shape.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_orders_spark.plans.registry import register
from etl_orders_spark.sources.readers import load_table as T
from etl_orders_spark.sources.writers import write_parquet

_MONTH = "1996-03"


def _staged_path(sf_dir: str, name: str, params: str = "") -> str:
    """Deterministic scratch location for one staged copy of one
    sf_dir's data, content-addressed by source dir AND the staging
    parameters: a layout-parameter change (partition column, z-order
    file count) must land in a fresh directory, or the mtime freshness
    gate would happily serve a copy built by OLD code across sessions
    (/tmp staging outlives checkouts)."""
    key = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "spark_graft_stage", f"{name}_{key}")


def _staging_is_fresh(path: str, sf_dir: str, table: str) -> bool:
    """A staged copy is reusable iff its _SUCCESS marker postdates the
    source table file — the same mtime gate the ingest fixtures use.
    A 100 TB layout (partitioned/Z-ordered copy) is MAINTAINED, not
    rebuilt per query: queries read the standing copy and only a newer
    source triggers a rewrite, so repeated runs measure the read path
    while data refreshes stay correct."""
    success = os.path.join(path, "_SUCCESS")
    src = os.path.join(sf_dir, f"{table}.parquet")
    return (
        os.path.exists(success)
        and os.path.exists(src)
        and os.path.getmtime(success) >= os.path.getmtime(src)
    )


def staged_orders_path(sf_dir: str) -> str:
    return _staged_path(sf_dir, "orders_by_month", params="partition_by=o_month(yyyy-MM)")


def stage_orders_by_month(spark: SparkSession, sf_dir: str) -> str:
    """Write orders partitioned by order month (hive-style layout:
    one directory per o_month). At 100 TB this is the fact-table
    layout decision: facts partition on the dominant predicate column
    (date), so time-bounded queries scan only matching directories."""
    path = staged_orders_path(sf_dir)
    if _staging_is_fresh(path, sf_dir, "orders"):
        return path
    orders = T(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    write_parquet(orders, path, mode="overwrite", partition_by=["o_month"])
    return path


def read_pruned_month(spark: SparkSession, path: str, month: str) -> DataFrame:
    """Scan the partitioned layout through the partition predicate —
    Catalyst resolves `o_month = month` against the directory listing
    (PartitionFilters in the plan), so only that month's files are
    ever opened."""
    return spark.read.parquet(path).filter(F.col("o_month") == month)


@register(
    "partition_pruned_revenue",
    f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m') = '{_MONTH}'
    GROUP BY o_orderstatus
    """,
    tags=("source", "sink", "layout", "agg"),
    bench=True,  # the layout family's bench representative (r4)
)
def partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout round trip: stage orders by month, read one
    month back through the partition predicate, aggregate revenue by
    status. The oracle aggregates the unpartitioned source with the
    equivalent month filter — equality proves the partitioned write +
    pruned read lose nothing."""
    path = stage_orders_by_month(spark, sf_dir)
    pruned = read_pruned_month(spark, path, _MONTH)
    return pruned.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


_Z_FILES = 16
_Z_PART_LO, _Z_PART_HI = 100, 499
_Z_SUPP_LO, _Z_SUPP_HI = 10, 59


def staged_zorder_path(sf_dir: str) -> str:
    return _staged_path(
        sf_dir, "lineitem_zorder", params=f"z{_Z_FILES}:l_partkey,l_suppkey"
    )


def stage_lineitem_zorder(spark: SparkSession, sf_dir: str) -> str:
    """Rewrite lineitem Z-ordered on (l_partkey, l_suppkey) — the
    OPTIMIZE ZORDER BY operation as a plain DataFrame transform
    (operators/layout.zorder_by). After the rewrite each file's
    min/max footer range is narrow on BOTH keys, so parquet row-group
    skipping prunes selective filters on either — the multi-dimension
    clustering a 100 TB fact table needs when no single sort column
    dominates the workload (tests/test_layout.py measures the
    tightening; this stage makes it a registered, oracle-checked
    path)."""
    from etl_orders_spark.operators.layout import zorder_by

    path = staged_zorder_path(sf_dir)
    if _staging_is_fresh(path, sf_dir, "lineitem"):
        return path
    li = T(spark, sf_dir, "lineitem")
    write_parquet(zorder_by(li, ["l_partkey", "l_suppkey"], n_files=_Z_FILES), path)
    return path


@register(
    "zorder_pruned_revenue",
    f"""
    SELECT l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_partkey BETWEEN {_Z_PART_LO} AND {_Z_PART_HI}
      AND l_suppkey BETWEEN {_Z_SUPP_LO} AND {_Z_SUPP_HI}
    GROUP BY l_returnflag
    """,
    tags=("layout", "sink", "source", "agg"),
)
def zorder_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout round trip: stage lineitem Morton-clustered on
    (l_partkey, l_suppkey), read the copy back through a 2-D range
    predicate, aggregate. The oracle runs the same filter + aggregate
    over the ORIGINAL table — equality proves the cluster-rewrite is
    lossless while the predicate lands on the narrow per-file ranges
    the rewrite created (the pruning the layout buys; measured in
    tests/test_layout.py, plan-shaped in tests/test_layout_queries.py)."""
    path = stage_lineitem_zorder(spark, sf_dir)
    zli = spark.read.parquet(path)
    return (
        zli.filter(
            F.col("l_partkey").between(_Z_PART_LO, _Z_PART_HI)
            & F.col("l_suppkey").between(_Z_SUPP_LO, _Z_SUPP_HI)
        )
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


def staged_evolution_path(sf_dir: str) -> str:
    """Scratch root for the two schema generations of orders."""
    return _staged_path(sf_dir, "orders_evolved")


def stage_evolved_orders(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders as two schema GENERATIONS, the lifecycle of a real
    lake table: gen1 (even order keys) predates the status column and
    carries integer cents; gen2 (odd keys) adds o_orderstatus and has
    widened cents to bigint. Together the directory is exactly what a
    fact table looks like mid-evolution — no rewrite of the old files."""
    from pyspark.sql.types import IntegerType

    root = staged_evolution_path(sf_dir)
    g1, g2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
        "o_orderstatus",
    )
    write_parquet(
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", F.col("cents").cast(IntegerType()).alias("cents")
        ),
        g1,
    )
    write_parquet(
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", F.col("cents").cast("long").alias("cents"), "o_orderstatus"
        ),
        g2,
    )
    return g1, g2


@register(
    "schema_evolution_scan",
    """
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("source", "layout", "evolution", "agg"),
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round trip: stage orders as two schema
    generations (pre-/post- a column add, with an integer→bigint
    widening on another column), scan them as ONE relation via
    parquet schema merging, conform to the governed target schema
    (sources/evolution.py: typed-NULL fill for the pre-column files,
    safe int→long upcast), and aggregate per status. The oracle runs
    the equivalent aggregate on the un-split source, synthesizing the
    generation boundary with the same key%2 rule — equality proves
    the evolved layout loses nothing: every row survives, NULLs land
    exactly on the pre-column generation, and the widening is
    value-preserving.

    Scale: the schema union reads file FOOTERS at planning time, and
    the NULL fill + upcast are projection expressions inside
    whole-stage codegen — evolution costs nothing per row, which is
    why the old generation never needs a synchronous rewrite."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_orders_spark.sources.evolution import read_parquet_evolved

    target = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("cents", LongType()),
            StructField("o_orderstatus", StringType()),
        ]
    )
    g1, g2 = stage_evolved_orders(spark, sf_dir)
    df = read_parquet_evolved(spark, [g1, g2], target=target)
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


def staged_resilient_path(sf_dir: str) -> str:
    return _staged_path(sf_dir, "orders_resilient")


@register(
    "resilient_scan_revenue",
    """
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("source", "layout", "resilience", "agg"),
)
def resilient_scan_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file quarantine on the read path: stage orders to
    scratch, drop a truncated file and a garbage file beside the real
    parts (what a killed writer leaves behind), then scan through
    sources/resilient.read_parquet_resilient — the distributed footer
    audit allowlists the good files and names the bad ones. The oracle
    aggregates the clean source: equality proves the resilient scan
    returns every real row while a plain scan of the same directory
    would fail outright. The report is consumed (its bad-file count
    gates the return) so the audit is genuinely exercised.

    Scale: the audit is one footer parse per file, distributed over
    executors; the data scan then reads exactly the allowlisted files
    with normal pushdown/pruning."""
    from etl_orders_spark.sources.resilient import read_parquet_resilient

    path = staged_resilient_path(sf_dir)
    junk = os.path.join(path, "part-junk.snappy.parquet")
    # idempotent staging: a prior build of this query pinned the good
    # files' ABSOLUTE paths in its allowlist — rewriting the directory
    # (fresh UUID part names) would invalidate that DataFrame, so the
    # staged corruption is reused once it exists
    if not (os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(junk)):
        orders = T(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        write_parquet(orders.repartition(4), path)
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        with open(os.path.join(path, parts[0]), "rb") as f:
            blob = f.read()
        with open(os.path.join(path, "part-torn.snappy.parquet"), "wb") as f:
            f.write(blob[: len(blob) // 2])
        with open(junk, "wb") as f:
            f.write(b"not parquet at all")
    df, report = read_parquet_resilient(spark, path)
    n_bad = report.filter("NOT ok").count()
    if n_bad != 2:
        raise AssertionError(f"resilient scan quarantined {n_bad} files, expected 2")
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


_BKT_BUCKETS = 8


def ensure_bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Stage orders + lineitem as BUCKETED catalog tables (bucketBy the
    join key, sortBy it, same bucket count both sides) and return them
    as table reads. Bucketing is THE co-located-join layout at 100 TB:
    a fact-to-fact join on the bucket key needs NO shuffle and NO sort
    on either side — each task zips bucket i of both tables — so the
    cluster's biggest recurring join cost is paid ONCE at write time
    and amortized over every downstream query. File-level parquet
    can't express this (bucket metadata lives in the catalog, which is
    why this helper registers tables instead of reading paths).

    Staging: content-addressed under /tmp (same `_staged_path` +
    mtime-freshness contract as the other layout fixtures — ONE copy
    per (sf_dir, _BKT_BUCKETS), reused across sessions, never one per
    applicationId). The bucket SPEC lives only in the session catalog,
    so a fresh session re-attaches it over the existing files with a
    CREATE TABLE ... CLUSTERED BY DDL (bucket ids are encoded in the
    saveAsTable file names, which is what makes re-registration
    sound); only a missing or stale copy pays the saveAsTable rewrite.
    Within a session, repeated calls (bench reps) hit the tableExists
    fast path. Concurrent FIRST writes share the staged-fixture race
    posture of the other /tmp layouts (last writer wins a consistent
    copy; readers of a mid-overwrite copy retry on the next call).
    The scans declare their sort order through the pinned
    ``bucketedTableScan.outputOrdering`` conf (session.py)."""
    out = []
    for name, bucket_col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        path = _staged_path(sf_dir, f"bkt_{name}", params=f"buckets={_BKT_BUCKETS}|v2")
        tbl = f"bkt_{name}_{os.path.basename(path).rsplit('_', 1)[1]}"
        fresh = _staging_is_fresh(path, sf_dir, name)
        if spark.catalog.tableExists(tbl):
            if fresh:
                out.append(spark.table(tbl))
                continue
            # the source parquet was regenerated under a live session:
            # the catalog entry points at a stale staged copy — drop it
            # and fall through to the rewrite (same freshness contract
            # as the sibling staged-layout fixtures)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if fresh:
            # files exist from an earlier session: re-attach the bucket
            # spec in THIS session's catalog without rewriting data
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(path).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
                f"INTO {_BKT_BUCKETS} BUCKETS LOCATION '{path}'"
            )
        else:
            (
                # one file per bucket (repartition on the bucket key with
                # the bucket count, same murmur3 hash both layers): a
                # bucket split across files loses the sortBy guarantee at
                # read time and the join re-sorts — with one sorted file
                # per bucket the scan's output ordering feeds the merge
                # join directly
                T(spark, sf_dir, name)
                .repartition(_BKT_BUCKETS, F.col(bucket_col))
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(_BKT_BUCKETS, bucket_col)
                .sortBy(bucket_col)
                .saveAsTable(tbl)
            )
        out.append(spark.table(tbl))
    return out[0], out[1]


@register(
    "bucketed_colocated_join",
    """
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("layout", "join", "bucketing"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketed tables: orders and
    lineitem both bucketed (and sorted) on the order key into the same
    bucket count, joined with a merge hint — the physical plan has NO
    exchange and NO sort under the SortMergeJoin (asserted by
    tests/test_layout_queries.py against the plan text; the hint
    matters because at fixture scale Catalyst would otherwise
    broadcast, which also demonstrates nothing about the layout).
    Values are layout-invariant, so the DuckDB twin is the plain join
    aggregate over the unbucketed views — a hash match certifies the
    bucketed write+read round trip end-to-end.

    100 TB posture: this is how the repeated orders-lineitem star
    joins in this repo's TPC-H family would actually be laid out on a
    real cluster — both facts CLUSTERED BY (orderkey) INTO thousands
    of buckets at ingest, every downstream equi-join on the key
    zipping co-numbered buckets with zero exchange. Per-row floored
    cents keep the aggregate order-free across engines."""
    o, l = ensure_bucketed_pair(spark, sf_dir)
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        o.hint("merge")
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(rev).cast("long").alias("revenue_cents"),
        )
    )


# --- small-files compaction -------------------------------------------------
_CMP_FRAG = 256  # fragment count simulating a month of micro-batch landings
_CMP_TARGET_BYTES = 8 << 20  # compaction target file size
_CMP_LO, _CMP_HI = "2024-01-10", "2024-01-20"


def staged_fragmented_events_path(sf_dir: str) -> str:
    return _staged_path(sf_dir, "events_fragmented", params=f"frag={_CMP_FRAG}")


def staged_compacted_events_path(sf_dir: str) -> str:
    return _staged_path(
        sf_dir,
        "events_compacted",
        params=f"frag={_CMP_FRAG}|target={_CMP_TARGET_BYTES}|cluster=ts",
    )


def stage_fragmented_events(spark: SparkSession, sf_dir: str) -> str:
    """The anti-pattern fixture: events scattered round-robin across
    {F} files, the layout a month of per-micro-batch commits leaves
    behind (every file tiny, no clustering, footer cost per scan)."""
    path = staged_fragmented_events_path(sf_dir)
    if _staging_is_fresh(path, sf_dir, "events"):
        return path
    write_parquet(
        T(spark, sf_dir, "events").repartition(_CMP_FRAG), path, mode="overwrite"
    )
    return path


def stage_compacted_events(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Run the compaction operator over the fragmented copy: output
    files sized from real bytes, range-clustered on ts so min/max
    row-group stats restore time pruning."""
    from etl_orders_spark.operators.layout import compact_parquet_dir

    frag = stage_fragmented_events(spark, sf_dir)
    path = staged_compacted_events_path(sf_dir)
    if _staging_is_fresh(path, sf_dir, "events"):
        return path, {}
    stats = compact_parquet_dir(spark, frag, path, _CMP_TARGET_BYTES)
    return path, stats


@register(
    "compact_small_files_events",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_CMP_LO}'
      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{_CMP_HI}'
    GROUP BY event_type
    """,
    tags=("layout", "sink", "source", "events", "agg"),
    bench=True,
)
def compact_small_files_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round trip: fragment events into {F}
    micro-batch-sized files, compact them into size-targeted
    ts-clustered files (operators/layout.compact_parquet_dir), then
    answer a time-windowed aggregate FROM THE COMPACTED COPY. The
    oracle aggregates the pristine source with the same window —
    equality proves the fragment+compact cycle loses nothing, and the
    ts range-clustering means the windowed scan prunes whole files
    via row-group stats (the capability the fragmented layout
    destroyed). Like the other layout lanes, staging is MAINTAINED:
    the mtime freshness gate rebuilds only when the source changes,
    so repeated runs measure the read path.

    100 TB posture: compaction is per-partition-directory maintenance
    (each date partition compacts independently and in parallel); the
    planner's driver-side file listing is manifest-grain metadata,
    not data; the one rewrite exchange is the inherent cost of
    read-optimization, paid once per maintenance cycle instead of as
    footer/open overhead on every subsequent scan."""
    path, _ = stage_compacted_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            (F.col("ts") >= F.lit(_CMP_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_CMP_HI).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


compact_small_files_events.__doc__ = compact_small_files_events.__doc__.replace(
    "{F}", str(_CMP_FRAG)
)
stage_fragmented_events.__doc__ = stage_fragmented_events.__doc__.replace(
    "{F}", str(_CMP_FRAG)
)
