"""Runtime duplicate-scan audit: flags queries that re-read a table.

Executes every registered query (or a named subset) at a small scale
factor and counts distinct FileScan locations in the EXECUTED plan —
pre-execution plans hide AQE's runtime exchange reuse, and plan text
under a cached/checkpointed relation never executes, so only the
post-action plan tells the truth about scan work.

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


def live_scan_counts(plan: str) -> Counter:
    """FileScan locations that EXECUTE, per table: a cached relation
    (InMemoryRelation) embeds its child plan — including the child's
    FileScan text — once per REFERENCE, but the cache fills once, so
    every embedded copy after the first is display noise, not work.
    We count scans outside any InMemoryRelation subtree, plus ONE fill
    per distinct cached relation — dedup'd by the relation's text with
    expression/plan ids normalized away, because each embedded copy of
    the SAME cache re-renders with fresh ids (two genuinely different
    caches of identical shape would collapse too; fine for an audit
    whose job is surfacing candidates for a human decision)."""
    pruned = drop_initial_plans(plan).splitlines()

    # recursive scope walk with a global seen-set: each DISTINCT cache
    # fills once, and a cache built from another cache contributes no
    # extra scan for the inner one (its embedded copy dedups away)
    seen: set[str] = set()
    seen_exchange_ids: set[str] = set()
    counts: Counter = Counter()

    def scan_scope(lines: list[str]) -> None:
        live: list[str] = []
        pending: list[list[str]] = []
        i = 0
        while i < len(lines):
            line = lines[i]
            # AQE query-stage reuse (round 11): the final adaptive plan
            # re-renders a reused ShuffleQueryStage/BroadcastQueryStage
            # SUBTREE at every reference site instead of printing a
            # ReusedExchange stub — same plan_id, executes once. The
            # kneser_ney lane rendered ONE per_pair exchange (plan_id
            # 415) at four sites and this audit read it as four corpus
            # scans. Dedup by the exchange node's plan_id: first
            # occurrence walks inline (its work is real), repeats skip
            # the whole subtree.
            m = re.search(r"\bExchange .*\[plan_id=(\d+)\]", line)
            if m:
                if m.group(1) in seen_exchange_ids:
                    d = _node_indent(line)
                    j = i + 1
                    while j < len(lines) and (
                        _node_indent(lines[j]) > d or not lines[j].strip()
                    ):
                        j += 1
                    i = j
                    continue
                seen_exchange_ids.add(m.group(1))
            if "InMemoryRelation" in line:
                d = _node_indent(line)
                j = i + 1
                block = [line]
                while j < len(lines) and (
                    _node_indent(lines[j]) > d or not lines[j].strip()
                ):
                    block.append(lines[j])
                    j += 1
                # canonicalize: drop the position-dependent tree prefix
                # of every line AND the fresh expression/plan ids —
                # embedded copies of one cache differ in nothing else
                canon = re.sub(
                    r"#\d+L?|plan_id=\d+",
                    "#",
                    "\n".join(ln[_node_indent(ln):] for ln in block),
                )
                if canon not in seen:
                    seen.add(canon)
                    pending.append(block[1:])  # the fill's own plan
                i = j
                continue
            live.append(line)
            i += 1
        for loc in re.findall(
            r"Location: InMemoryFileIndex[^\[]*\[([^\]]+)\]", "\n".join(live)
        ):
            counts[loc.rsplit("/", 1)[-1].split(",")[0]] += 1
        for body in pending:
            scan_scope(body)

    scan_scope(pruned)
    return counts


def executed_scan_nodes(spark) -> int | None:
    """Ground truth from the SQL UI store: the number of DISTINCT
    'Scan parquet' nodes the latest SQL execution actually ran (the
    graph dedups reused exchanges/subqueries, and node metrics only
    accumulate for executed nodes). The text heuristic above can
    over-count (re-rendered reused AQE stages) or under-count; when
    the two disagree, believe this number — it just can't attribute
    scans to tables, which the heuristic can. None when the UI is off.

    Caveat (round 11, found on decontaminate_eval_docs): CONCURRENT
    query stages racing to fill one lazy cache each execute their own
    copy of the fill subtree — the graph shows one scan node per
    racing branch, so a 'collapsed' static plan can still pay N fills
    at runtime. That is precisely the class of truth only this counter
    sees."""
    import json
    import urllib.request

    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        return None
    url = (
        f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        "/sql?details=true&length=2000"
    )
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            sqls = json.load(r)
    except Exception:  # noqa: BLE001 — UI endpoint is best-effort
        return None
    if not sqls:
        return None
    ex = max(sqls, key=lambda s: s["id"])
    return sum(1 for n in ex["nodes"] if n["nodeName"].startswith("Scan parquet"))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.session import DEFAULT_CPUS, get_spark

    # the graph counter reads the SQL UI store; create the session
    # with the UI on BEFORE get_spark (spark.ui.enabled is launch-only:
    # get_spark's launch-only confs are ignored on the live session,
    # while its pin_session_defaults call and broadcast threshold
    # still land)
    SparkSession.builder.master(f"local[{DEFAULT_CPUS}]").appName("scan-audit").config(
        "spark.ui.enabled", "true"
    ).getOrCreate()
    spark = get_spark("scan-audit")
    flagged = 0
    for name, builder in query_map().items():
        if only and name not in only:
            continue
        try:
            df = builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            graph = executed_scan_nodes(spark)
        except Exception as e:  # noqa: BLE001 — report and continue
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            continue
        finally:
            spark.catalog.clearCache()
        dups = {t: n for t, n in live_scan_counts(plan).items() if n >= 2}
        gsuffix = "" if graph is None else f" (executed scan nodes: {graph})"
        if dups:
            flagged += 1
            print(f"multi  {name}: {dups}{gsuffix}")
        elif graph is not None and graph >= 3:
            # the heuristic saw no repeat but the graph ran 3+ scan
            # nodes — likely racing cache fills; surface for a human
            flagged += 1
            print(f"multi? {name}: heuristic clean{gsuffix}")
    print(f"{flagged} queries with repeated scans of one table")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
