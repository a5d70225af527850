"""Lane probe: time one or more registered lanes in isolation through
the noop sink (guide §1.4) at one or more scale-factor directories
(e.g. the RI-preserving replicas from tools/make_replica.py), and
optionally dump .explain("formatted") to a file — the measure-first
loop for the optimization rounds and the replica scale probes.

Usage:
    python tools/probe_lane.py LANE [LANE ...] --sf DIR [DIR ...]
        [--reps N] [--explain-dir DIR] [--suffix before|after]
        [--explain-only]

Prints per directory and lane: cold (first run, caches cleared), warm
(best-of-reps after cold), the output row count (one untimed count()
after the timed runs), jobs=COLD/WARM, every Spark job of the cold rep
and of the last warm rep (the builder's plus the sink's),
build_jobs=COLD/WARM, the part of those run inside the builder, and
compiles=COLD/WARM, the classes Janino compiled in the same two reps
(a warm count above 0 means the codegen cache lost a class), and
jit_ms=COLD/WARM, the milliseconds HotSpot's JIT compilers spent in
them, so a compile-layer change shows which lanes it moved. Every rep
runs under the job group ``LANE:PHASE`` (cold, warm0.., rows), so an
event log of the run splits by lane and phase. The timing is bench.py's
``time_lane``, so a probe measures exactly what the bench records.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("lanes", nargs="+")
    ap.add_argument("--sf", nargs="+", required=True, metavar="DIR")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default=None)
    ap.add_argument("--explain-only", action="store_true")
    args = ap.parse_args()

    from bench import time_lane
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.session import get_spark

    spark = get_spark("probe_lane")
    q = query_map()
    for sf_dir in args.sf:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
        for lane in args.lanes:
            builder = q[lane]
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                tag = f"_{args.suffix}" if args.suffix else ""
                path = os.path.join(args.explain_dir, f"{lane}{tag}.txt")
                plan = builder(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(path, "w") as f:
                    f.write(plan)
                print(f"# explain -> {path}", file=sys.stderr)
            if args.explain_only:
                continue
            t = time_lane(spark, lane, builder, sf_dir, args.reps)
            spark.sparkContext.setJobGroup(f"{lane}:rows", f"{lane}:rows")
            rows = builder(spark, sf_dir).count()
            print(
                f"{os.path.basename(sf_dir)} {lane}: cold={t.cold_s:.3f}s warm={t.warm_s:.3f}s"
                f" rows={rows} jobs={t.cold_rep_jobs}/{t.warm_rep_jobs}"
                f" build_jobs={t.cold_jobs}/{t.warm_jobs}"
                f" compiles={t.cold_compiles}/{t.warm_compiles}"
                f" jit_ms={t.cold_jit_ms}/{t.warm_jit_ms}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
