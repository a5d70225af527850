"""SQL entry point: register the testdata star schema as views and run
arbitrary Spark SQL over it.

The reference had no query language at all (its "queries" were DAG
runs); this is the surface a reference user migrates to: point the
engine at a data directory, get named relations, write SQL. Views are
lazy — registering costs nothing until a query scans them, and every
query still gets pushdown/pruning because the views are plain scans.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from etl_orders_spark.session import pin_session_defaults
from etl_orders_spark.sources.readers import TABLES, load_table


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view of its own name.
    Returns the registered view names."""
    pin_session_defaults(spark)
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TABLES)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: register views, run the query, return the DataFrame."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def plan_summary(df: DataFrame) -> dict:
    """Scale-audit summary of a DataFrame's physical plan: the facts
    that must stay true at 100 TB, as data instead of a wall of text.
    Used by the plan-regression tests and handy interactively
    (`plan_summary(q(spark, sf))["nested_loop_joins"] == 0`). Reads
    ``plan_text``, so a consumer of a filled stage counts each
    operator once."""
    p = plan_text(df)
    return {
        # lookbehinds: a ReusedExchange is a shuffle AVOIDED, not paid —
        # don't let it inflate the exchange counts it points at
        "shuffle_exchanges": len(re.findall(r"(?<!Reused)(?<!Broadcast)Exchange", p)),
        "broadcast_exchanges": len(re.findall(r"(?<!Reused)BroadcastExchange", p)),
        "reused_exchanges": p.count("ReusedExchange"),
        "broadcast_hash_joins": p.count("BroadcastHashJoin"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "shuffled_hash_joins": p.count("ShuffledHashJoin"),
        "nested_loop_joins": p.count("BroadcastNestedLoopJoin"),
        "cartesian_products": p.count("CartesianProduct"),
        "scans": p.count("FileScan"),
        # true iff ANY scan pushed a real filter: a star join's
        # unfiltered dimension scans print 'PushedFilters: []' and must
        # not mask the fact scan's pushdown
        "pushed_filters": re.search(r"PushedFilters: \[[^\]]", p) is not None,
        # note: under AQE the codegen markers only appear post-execution
        "whole_stage_codegen": "WholeStageCodegen" in p,
        "take_ordered": "TakeOrderedAndProject" in p,
        "global_windows": count_global_windows(p),
    }


def plan_text(df: DataFrame) -> str:
    """The executed plan as text, one line per operator, each operator
    printed once. Spark's own plan string prints AQE's pre-adaptive
    "Initial Plan" beside the final one, and a cache's whole plan under
    every scan of it, though neither copy ever runs; nested, those
    copies are indented out of tree order, so the plan is walked as a
    tree instead of parsed as text. A line is the operator's own
    ``verboseString``, the text Spark prints for it."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    max_fields = jdf.sparkSession().sessionState().conf().maxToStringFields()
    seen_caches: set[int] = set()
    lines: list[str] = []

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def walk(node, depth: int, prefix: str = "") -> None:
        kind = node.getClass().getSimpleName()
        if kind == "WholeStageCodegenExec":  # printed as its child's "*(n) "
            walk(node.child(), depth, f"*({node.codegenStageId()}) ")
            return
        if kind == "InputAdapter":
            walk(node.child(), depth, prefix)
            return
        lines.append("  " * depth + prefix + node.verboseString(max_fields))
        if kind == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]  # the final plan, not the initial
        elif kind.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif kind == "InMemoryRelation":
            # one cache, many scans: each scan's relation is a copy with
            # its own output ids around the same builder
            key = jvm.System.identityHashCode(node.cacheBuilder())
            kids = [] if key in seen_caches else [node.cachedPlan()]
            seen_caches.add(key)
        else:
            kids = seq(node.innerChildren()) + seq(node.children())
        for kid in kids:
            walk(kid, depth + 1)

    walk(jdf.queryExecution().executedPlan(), 0)
    return "\n".join(lines)


# In plan text, a window spec lists partition columns BARE before the
# ordered (ASC/DESC-suffixed) sort columns; with no partition spec the
# first argument is either a sort column or (unpartitioned+unordered)
# the frame itself. Both forms funnel all rows into one task.
_GLOBAL_WINDOW = re.compile(
    r"windowspecdefinition\((?:[^,()]*\s(?:ASC|DESC)|specifiedwindowframe)"
)


def count_global_windows(plan: str) -> int:
    """Count single-partition Window specs in a physical-plan string —
    each is a scale ceiling unless its input is provably bounded.

    Specs ordered by ``_tpr_pid`` are excluded: that column is the
    two-pass rank's partition-id (operators/rank.py), whose offsets
    window runs over exactly one row per range partition — bounded by
    cluster layout, not data."""
    n = 0
    for m in _GLOBAL_WINDOW.finditer(plan):
        head = plan[m.start() : m.start() + 120]
        if "_tpr_pid" not in head:
            n += 1
    return n
