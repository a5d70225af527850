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


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every testdata table as `{prefix}{name}` temp views.
    Returns the registered view names."""
    pin_session_defaults(spark)
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def sql(spark: SparkSession, sf_dir: str, query: str, prefix: str = "") -> DataFrame:
    """One-shot: register views, run the query, return the DataFrame."""
    register_views(spark, sf_dir, prefix)
    return spark.sql(query)


def plan_summary(df: DataFrame) -> dict:
    """Scale-audit summary of a DataFrame's physical plan: the facts
    that must stay true at 100 TB, as data instead of a wall of text.
    Used by the plan-regression tests and handy interactively
    (`plan_summary(q(spark, sf))["nested_loop_joins"] == 0`). Reads
    the plan without its "== Initial Plan ==" copies, so a consumer
    of a filled stage counts each operator once."""
    p = drop_initial_plans(df._jdf.queryExecution().executedPlan().toString())
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


def _node_indent(line: str) -> int:
    """Depth of a plan-tree line = offset of its first payload char
    (Spark renders tree structure with a ' :+-*' prefix alphabet)."""
    i = 0
    while i < len(line) and line[i] in " :+-*(0123456789)":
        i += 1
    return i


def drop_initial_plans(plan: str) -> str:
    """Plan text without its "== Initial Plan ==" subtrees. AQE prints
    the pre-adaptive plan beside the final one once a plan has run
    (recursively, inside every nested AdaptiveSparkPlan a filled cached
    relation embeds), and none of that text ever executes."""
    pruned: list[str] = []
    skip_deeper_than: int | None = None
    for line in plan.splitlines():
        d = _node_indent(line)
        if skip_deeper_than is not None:
            # the section's children render at indent >= the marker
            # (its first child sits EQUAL to it), and the marker is
            # always the last child of its AdaptiveSparkPlan — so the
            # section ends at the first strictly-shallower line
            if line.strip() and d < skip_deeper_than:
                skip_deeper_than = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_deeper_than = d
            continue
        pruned.append(line)
    return "\n".join(pruned)


# In plan text, a window spec lists partition columns BARE before the
# ordered (ASC/DESC-suffixed) sort columns; with no partition spec the
# first argument is either a sort column or (unpartitioned+unordered)
# the frame itself. Both forms funnel all rows into one task.
_GLOBAL_WINDOW = re.compile(
    r"windowspecdefinition\((?:[^,()]*\s(?:ASC|DESC)|specifiedwindowframe)"
)


def count_global_windows(plan: str, exempt_marker: str = "_tpr_pid") -> int:
    """Count single-partition Window specs in a physical-plan string —
    each is a scale ceiling unless its input is provably bounded.

    Specs ordered by ``exempt_marker`` are excluded: that column is
    the two-pass rank's partition-id (operators/rank.py), whose
    offsets window runs over exactly one row per range partition —
    bounded by cluster layout, not data."""
    n = 0
    for m in _GLOBAL_WINDOW.finditer(plan):
        head = plan[m.start() : m.start() + 120]
        if exempt_marker not in head:
            n += 1
    return n
