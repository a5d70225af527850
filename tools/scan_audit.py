"""Runtime duplicate-scan audit: flags queries that re-read a table.

Runs every registered query (or a named subset) at a small scale
factor and counts, per table, the parquet scans that EXECUTED. The
count comes from one place, Spark's SQL status store, which the
session fills with the UI off: every SQL execution the lane starts
(the builder's stage fills and checkpoints, then the final noop
write) is read back, and each of its 'Scan parquet' nodes whose
"number of files read" metric is above 0 counts once for its
directory. A scan that only RENDERS in a graph reads no file there
and reports 0 or no value: the subtree a filled cache embeds at every
reference, and the stages AQE re-renders where it reuses one.

A query scanning one table N>=2 times is not automatically wrong:
per-branch FILTERED scans (funnel stages), explode outputs whose
materialization would cost more than a re-scan (threshold sweeps),
and deliberately-modeled snapshots (incremental maintenance) all
legitimately re-read. The audit exists so every such case is a
DECISION — the round-3 sweep of this report found six queries paying
2-6 hidden replays of whole aggregate/window stages (fixed via
row-local explode, pivot, or a localCheckpoint of the shared narrow
subtree; see SCALE.md).

Usage:
    python tools/scan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _files_read(node, metrics) -> int:
    declared = node.metrics()
    for i in range(declared.size()):
        m = declared.apply(i)
        if m.name() == "number of files read":
            value = metrics.get(m.accumulatorId())
            return int(value.get().replace(",", "")) if value.isDefined() else 0
    return 0


def scan_counts(spark, run) -> Counter:
    """Call ``run()`` and return, per table, the scan nodes that read
    files in the SQL executions it started. A table is the last part of
    the node's first location, as Spark prints it: a location longer
    than spark.sql.maxMetadataStringLength ends in '...'. An execution
    missing from the store (evicted past spark.sql.ui.retainedExecutions)
    raises instead of counting 0."""
    store = spark._jsparkSession.sharedState().statusStore()
    since = _last_execution_id(store)
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    counts: Counter = Counter()
    for eid in range(since + 1, _last_execution_id(store) + 1):
        if store.execution(eid).isEmpty():
            raise LookupError(f"SQL execution {eid} is not in the status store")
        metrics = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name().startswith("Scan parquet") and _files_read(node, metrics):
                path = re.search(r"\[file:([^,\]]+)", node.desc()).group(1)
                counts[path.rstrip("/").rsplit("/", 1)[-1]] += 1
    return counts


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.session import get_spark

    spark = get_spark("scan-audit")
    flagged = 0
    for name, builder in query_map().items():
        if only and name not in only:
            continue

        def run():
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

        try:
            counts = scan_counts(spark, run)
        except (PySparkException, Py4JJavaError) as e:  # report and continue
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            continue
        finally:
            spark.catalog.clearCache()
        dups = {t: n for t, n in counts.items() if n >= 2}
        if dups:
            flagged += 1
            print(f"multi  {name}: {dups}")
    print(f"{flagged} queries with repeated scans of one table")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
