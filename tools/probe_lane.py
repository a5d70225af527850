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
after the timed runs) and build_jobs=COLD/WARM, the Spark jobs run
inside the builder on the cold rep and the last warm rep. Every rep
runs under the job group ``LANE:PHASE`` (cold, warm0.., rows), so an
event log of the run splits by lane and phase. clearCache before the
cold run keeps the stage caches honest, mirroring bench.py's recorded
semantics.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _group_jobs(spark, group: str) -> int:
    """Jobs recorded so far under a job group (the listener bus is
    drained first, so every job already run is counted)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rep(spark, builder, sf_dir: str, group: str) -> tuple[float, int]:
    """One timed build + noop-sink run under job group ``group``:
    (seconds, jobs the builder ran)."""
    spark.sparkContext.setJobGroup(group, group)
    before = _group_jobs(spark, group)
    t0 = time.time()
    df = builder(spark, sf_dir)
    build_s = time.time() - t0
    # counted outside the timed span: draining the bus is not lane work
    build_jobs = _group_jobs(spark, group) - before
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return build_s + time.time() - t0, build_jobs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("lanes", nargs="+")
    ap.add_argument("--sf", nargs="+", required=True, metavar="DIR")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default=None)
    ap.add_argument("--explain-only", action="store_true")
    args = ap.parse_args()

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
            spark.catalog.clearCache()
            cold, cold_jobs = _rep(spark, builder, sf_dir, f"{lane}:cold")
            best = None
            for i in range(args.reps):
                dt, warm_jobs = _rep(spark, builder, sf_dir, f"{lane}:warm{i}")
                best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobGroup(f"{lane}:rows", f"{lane}:rows")
            rows = builder(spark, sf_dir).count()
            print(
                f"{os.path.basename(sf_dir)} {lane}: cold={cold:.3f}s warm={best:.3f}s"
                f" rows={rows} build_jobs={cold_jobs}/{warm_jobs}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
