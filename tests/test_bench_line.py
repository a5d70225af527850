"""The bench's parsed final line stays inside the tail budget; its
regression rule and lane timing behave as documented."""

from __future__ import annotations

import json
import os

from bench import LINE_BUDGET, final_line, jit_ms, regressions, time_lane

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_final_line_drops_the_map_when_no_precision_fits():
    timings = {f"fake_lane_{i:03d}": 1.0 + i / 7 for i in range(400)}
    line = final_line(timings, round(sum(timings.values()), 3), 0.1)
    assert len(line) <= LINE_BUDGET
    out = json.loads(line)
    assert out == {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "lanes": 400,
    }


def test_final_line_keeps_the_61_lane_map():
    with open(os.path.join(REPO, "bench_cold.json")) as f:
        timings = json.load(f)["queries_warm"]
    assert len(timings) == 61
    line = final_line(timings, round(sum(timings.values()), 3), 0.1)
    assert len(line) <= LINE_BUDGET
    out = json.loads(line)
    assert out["lanes"] == 61
    assert out["queries"].keys() == timings.keys()
    assert all(abs(out["queries"][k] - v) <= 0.05 for k, v in timings.items())
    assert list(out["queries"].values()) == sorted(out["queries"].values())


def test_regression_rule_is_calibrated_and_floored():
    assert regressions({"lane": 1.0}, {"lane": 2.0}, 1.0) == [("lane", 1.0, 2.0, 2.0)]
    # the same slowdown in a window where the box itself is 2x slower
    assert regressions({"lane": 1.0}, {"lane": 2.0}, 2.0) == []
    # 2.5x, but both sides under the noise floor
    assert regressions({"lane": 0.1}, {"lane": 0.25}, 1.0) == []
    # a 0 s baseline flags once the new time clears the floor
    assert regressions({"lane": 0.0}, {"lane": 0.2}, 1.0) == []
    assert [r[0] for r in regressions({"lane": 0.0}, {"lane": 0.4}, 1.0)] == ["lane"]


def test_time_lane_tags_every_rep_and_counts_builder_jobs(spark):
    def builder(spark, sf_dir):
        spark.range(3).collect()  # one job while building
        return spark.range(3)

    sc = spark.sparkContext
    try:
        t = time_lane(spark, "time_lane_probe", builder, "unused", reps=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for phase in ("cold", "warm0", "warm1"):
        assert tracker.getJobIdsForGroup(f"time_lane_probe:{phase}"), phase
    assert t.cold_jobs == 1 and t.warm_jobs == 1
    # the rep's own jobs add the sink's one job to the builder's
    assert t.cold_rep_jobs == 2 and t.warm_rep_jobs == 2
    assert t.cold_s > 0 and t.warm_s > 0
    # the warm rep reuses every class the cold rep generated
    assert t.warm_compiles == 0
    # JIT time is a per-rep delta of a counter that only grows
    assert t.cold_jit_ms >= 0 and t.warm_jit_ms >= 0
    assert jit_ms(spark) > 0
