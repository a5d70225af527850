"""Headline benchmark: runs every bench-tagged registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is a COMPACT object
the driver parses — per the declared driver contract it carries the
per-lane warm map:

    {"metric": "bench_total_sec", "value": N, "unit": "sec",
     "sf": 0.1, "lanes": 61, "queries": {"name": 0.35, ...}}

Only a ~2 KB tail of the output is captured, so the map is written
at 2-decimal precision with compact separators (61 lanes ≈ 1.86 KB)
behind a byte-budget guard (``final_line``); full 3-decimal values
stay on their own preceding line and in the ``bench_cold.json``
sidecar. Existing queries are never removed or renamed.

Each query is forced through the noop sink so the full plan executes
(count() would let Catalyst prune the projected columns).

Two timings per query (``time_lane``): **cold** is the first execution
after clearCache (plan compilation + codegen JIT + every stage cache
empty — the number a fresh cluster pays), **warm** is best-of-N after
that (steady state, shared caches populated — the number a long-lived
session pays). Several plans share a keyed stage cache
(operators/materialize.py), so warm alone would partially be a cache
statement; reporting both keeps the 2x-of-baseline bound honest.
Every rep runs under the Spark job group ``LANE:cold`` / ``LANE:warmN``,
so an event log of the run splits by lane and phase.

``regressions`` is the one per-lane regression rule, shared with
tools/cold_report.py; ``time_lane`` is shared with tools/probe_lane.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from typing import NamedTuple

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


# The final line is parsed from a 2000 B tail capture; it stays inside it.
LINE_BUDGET = 1985

# A lane regressed when it is more than THRESHOLD times slower than its
# baseline after dividing by the box-speed ratio...
THRESHOLD = 1.5
# ...and it is not cheaper than this on both sides: lanes under it are
# dominated by scheduler noise at sf0.1
NOISE_FLOOR_SEC = 0.3

# Lanes with a STANDING isolation record (VERDICT r8 #2): re-measured
# in isolation at the end of every recorded run regardless of ratios,
# because they have flagged as JIT-neighborhood-sensitive in three
# consecutive rounds while their isolated numbers sat at baseline.
STANDING_ISOLATION = ("bigram_perplexity_docs_fast", "bigram_perplexity_docs_bcast")


def _calibration_probe(spark) -> float:
    """Fixed, DATA-INDEPENDENT box-speed probe (VERDICT r8 #2): a
    canned xxhash64 aggregation over an in-memory range — no parquet,
    no stage caches, same plan every round — timed before any lane so
    round-over-round ratios can be normalized by box weather.
    Best-of-3 after one untimed JIT warmup; ``regressions`` divides
    lane ratios by the calibration ratio when both sidecars carry one."""

    def run() -> float:
        # one wide codegen pass + one reduce: hash 67M longs, sum the
        # residues (raw hash sum overflows long under ANSI mode)
        t0 = time.time()
        spark.range(0, 1 << 26, 1, 32).selectExpr(
            "sum(xxhash64(id, id * 31) % 1000000) AS s"
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run()  # untimed JIT warmup
    return round(min(run() for _ in range(3)), 3)


def _group_jobs(spark, group: str) -> int:
    """Jobs recorded so far under a job group (the listener bus is
    drained first, so every job already run is counted)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def janino_compiles(spark) -> int:
    """Classes Janino has compiled so far in this JVM (driver and, in
    local mode, executors): a generated class the codegen cache still
    holds is not compiled again."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def jit_ms(spark) -> int:
    """Milliseconds HotSpot's JIT compilers (C1 and C2, summed over
    their threads) have spent so far in the driver JVM, which in local
    mode also runs the executors."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return mx.getTotalCompilationTime()


def _rep(spark, builder, sf_dir: str, group: str) -> tuple[float, int, int, int, int]:
    """One timed build + noop-sink run under job group ``group``:
    (seconds, jobs the builder ran, jobs the whole rep ran, classes
    compiled, JIT milliseconds)."""
    spark.sparkContext.setJobGroup(group, group)
    before = _group_jobs(spark, group)
    compiled = janino_compiles(spark)
    jit = jit_ms(spark)
    t0 = time.time()
    df = builder(spark, sf_dir)
    build_s = time.time() - t0
    # counted outside the timed span: draining the bus is not lane work
    build_jobs = _group_jobs(spark, group) - before
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    rep_s = build_s + time.time() - t0
    rep_jobs = _group_jobs(spark, group) - before
    return rep_s, build_jobs, rep_jobs, janino_compiles(spark) - compiled, jit_ms(spark) - jit


class LaneTiming(NamedTuple):
    cold_s: float
    warm_s: float  # best of the warm reps
    cold_jobs: int  # jobs run inside the builder
    warm_jobs: int  # last warm rep's
    cold_compiles: int  # Janino compiles
    warm_compiles: int  # last warm rep's
    cold_rep_jobs: int  # every job of the rep: the builder's plus the sink's
    warm_rep_jobs: int  # last warm rep's
    cold_jit_ms: int  # HotSpot JIT compile time
    warm_jit_ms: int  # last warm rep's


def time_lane(spark, lane: str, builder, sf_dir: str, reps: int) -> LaneTiming:
    """One lane's timing: one cold rep after clearCache — keyed stage
    caches are shared across lanes, so without the clear an earlier
    lane pre-fills this one's inputs and cold silently measures cache
    reads — then the best of ``reps`` warm reps. Job counts, compiles
    and JIT time of the warm side are the last warm rep's, so a stage
    or a generated class that is not kept shows there."""
    spark.catalog.clearCache()
    cold, cold_jobs, cold_rep_jobs, cold_compiles, cold_jit = _rep(
        spark, builder, sf_dir, f"{lane}:cold"
    )
    best = None
    for i in range(reps):
        dt, warm_jobs, warm_rep_jobs, warm_compiles, warm_jit = _rep(
            spark, builder, sf_dir, f"{lane}:warm{i}"
        )
        best = dt if best is None else min(best, dt)
    return LaneTiming(
        cold, best, cold_jobs, warm_jobs, cold_compiles, warm_compiles,
        cold_rep_jobs, warm_rep_jobs, cold_jit, warm_jit,
    )


def regressions(
    old: dict[str, float], new: dict[str, float], cal: float = 1.0
) -> list[tuple[str, float, float, float]]:
    """(lane, old_s, new_s, ratio) for every common lane slower than
    THRESHOLD x its baseline and above the noise floor, by name. ``cal``
    is the box-speed ratio (new calibration / old calibration): lane
    ratios are divided by it, so a uniformly slow measurement window
    does not read as a fleet of regressions. A 0 s baseline has an
    infinite ratio, so it flags once the new time clears the floor."""
    out = []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        ratio = (n / o if o > 0 else float("inf")) / cal
        if ratio > THRESHOLD and max(o, n) > NOISE_FLOOR_SEC:
            out.append((name, o, n, ratio))
    return out


def head_sidecar() -> dict | None:
    """The last committed ``bench_cold.json`` (the regression baseline),
    or None when there is no git, no checkout or no committed sidecar."""
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "show", "HEAD:bench_cold.json"],
            capture_output=True, text=True,
        )
    except OSError:  # no git binary: the caller reports the missing baseline
        return None
    return json.loads(out.stdout) if out.returncode == 0 else None


def final_line(timings: dict[str, float], total: float, sf: float) -> str:
    """The FINAL line, parsed from the run's output tail: ONE JSON line
    {"metric", "value", "unit", "sf", "lanes", "queries": {name: sec}}
    with 2-decimal values, ascending by time, compact separators.
    Budget-guarded: while the line outgrows LINE_BUDGET, values >= 10 s,
    then >= 1 s, then all degrade to 1 decimal; if even that does not
    fit, the last tier drops the queries map and keeps the headline
    (metric, value, unit, sf, lanes), warning loudly. The full 3-decimal
    values stay on the warm line and in bench_cold.json."""
    head = {"metric": "bench_total_sec", "value": total, "unit": "sec", "sf": sf,
            "lanes": len(timings)}
    ordered = sorted(timings.items(), key=lambda kv: kv[1])
    for degrade in (None, 10.0, 1.0, 0.0):
        q = {
            k: (round(v, 1) if degrade is not None and v >= degrade else round(v, 2))
            for k, v in ordered
        }
        line = json.dumps({**head, "queries": q}, separators=(",", ":"))
        if len(line) <= LINE_BUDGET:
            return line
    print(
        f"WARNING: final line {len(line)}B exceeds the ~2KB tail "
        "capture even at 1-decimal precision; the queries map is dropped "
        "from it (the warm line and bench_cold.json keep every lane)",
        file=sys.stderr,
    )
    return json.dumps(head, separators=(",", ":"))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from etl_orders_spark.plans.registry import bench_queries
    from etl_orders_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    calibration = _calibration_probe(spark)
    print(f"# calibration probe: {calibration}s", file=sys.stderr)

    # best-of-N warm reps (default 3): single-run times on a shared box
    # carry ±20% scheduler/GC noise, and the xxhash64-heavy codegen
    # plans need 3-4 executions to reach JIT steady state (SCALE.md)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    builders = bench_queries()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, builder in builders.items():
        t = time_lane(spark, name, builder, sf_dir, reps)
        cold[name], timings[name] = round(t.cold_s, 3), round(t.warm_s, 3)
        print(f"# {name}: {timings[name]}s (cold {cold[name]}s)"
              f" jobs={t.cold_rep_jobs}/{t.warm_rep_jobs}"
              f" compiles={t.cold_compiles}/{t.warm_compiles}", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # Isolation re-measures (VERDICT r8 #2): lanes whose warm number
    # regressed vs the committed sidecar — plus the standing set — get
    # one clean re-measure AFTER the full sweep, when the JIT
    # neighborhood has settled; a flagged lane whose isolated number
    # sits at baseline is box/JIT weather, not a plan change.
    flagged = {n for n in STANDING_ISOLATION if n in timings}
    head = head_sidecar()
    if head is None:
        print("# no HEAD:bench_cold.json baseline: isolating the standing set only",
              file=sys.stderr)
    else:
        head_cal = head.get("calibration_sec") or 0.0
        box = (calibration / head_cal) if (calibration and head_cal) else 1.0
        flagged |= {r[0] for r in regressions(head.get("queries_warm", {}), timings, box)}
    isolation: dict[str, float] = {}
    for name in sorted(flagged):
        isolation[name] = round(time_lane(spark, name, builders[name], sf_dir, reps).warm_s, 3)
        print(f"# isolation {name}: {isolation[name]}s (sweep {timings[name]}s)",
              file=sys.stderr)

    sidecar = {
        "metric": "bench_cold_total_sec",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "calibration_sec": calibration,
        "isolation_warm": isolation,
        "queries_cold": cold,
        # the warm map rides the same sidecar so tools/cold_report.py
        # diffs BOTH columns round-over-round
        "queries_warm": timings,
        "warm_total_sec": total,
        "sf": sf,
    }
    # Preceding line, never the final line (the tail capture is ~2 KB
    # and only the last line is parsed).
    print(json.dumps({k: v for k, v in sidecar.items()
                      if k not in ("queries_warm", "warm_total_sec")}))
    # the sidecar is the round-over-round regression baseline
    # (tools/cold_report.py)
    try:
        with open(os.path.join(REPO, "bench_cold.json"), "w") as f:
            json.dump(sidecar, f)
    except OSError as e:
        print(f"WARNING: bench_cold.json not written: {e}", file=sys.stderr)
    # Full-precision warm map on its OWN line (3 decimals, ascending by
    # time) for humans/logs; it may fall out of the tail capture because
    # the final line and the sidecar carry the same lanes.
    print(json.dumps(
        {
            "metric": "bench_queries_warm_sec",
            "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
            "sf": sf,
        }
    ))
    print(final_line(timings, total, sf))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
