"""The bench's parsed final line stays inside the tail budget."""

from __future__ import annotations

import json
import os

from bench import LINE_BUDGET, final_line

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
