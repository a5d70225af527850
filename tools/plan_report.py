"""Generate PLANS.md: a physical-plan audit of every bench query.

For each bench-tagged query, records the operator skeleton plus the
scale-relevant facts: join strategies, exchange count, pushed filters,
and read schemas — the things that must stay true at 100 TB.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_JOINS = ("broadcast_hash_joins", "sort_merge_joins", "shuffled_hash_joins",
          "nested_loop_joins", "cartesian_products")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from etl_orders_spark.plans.registry import QUERIES, query_map
    from etl_orders_spark.session import get_spark
    from etl_orders_spark.sql import plan_summary, plan_text

    spark = get_spark("plan_report", cpus=8)
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    qmap = query_map()
    bench = [n for n, s in QUERIES.items() if s.bench]

    lines = [
        "# PLANS — physical-plan audit of the bench set",
        "",
        f"Generated by `tools/plan_report.py` over `{sf_dir}`. For each query:",
        "join strategies, shuffle (Exchange) count, filters pushed into the",
        "parquet scans, and the pruned read schemas.",
        "",
        "Note: `ann_topk_cosine` intentionally plans a BroadcastNestedLoopJoin —",
        "it is the exact brute-force baseline (a ~5-row broadcast query batch",
        "crossed with the streaming corpus, map-side). Every approximate path",
        "(`lsh_ann_topk`, `ivf_ann_topk`, `near_dup_embeddings`) is a keyed join;",
        "tests/test_plans.py forbids nested-loop there.",
        "",
    ]
    for name in sorted(bench):
        df = qmap[name](spark, sf_dir)
        plan = plan_text(df)
        s = plan_summary(df)
        joins = {k: s[k] for k in _JOINS if s[k]}
        pushed = [
            m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()
        ]
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(f"- joins: {joins or 'none'}; exchanges: {s['shuffle_exchanges']}")
        if s["take_ordered"]:
            lines.append("- global top-k via TakeOrderedAndProject (no full sort)")
        for pf in pushed[:6]:
            lines.append(f"- pushed: `[{pf.strip()[:150]}]`")
        for s in schemas[:6]:
            lines.append(f"- reads: `{s[:150]}`")
        lines.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(bench)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
