"""Smoke self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` with ``--smoke`` (the sf0.001
corpus, a 3,000-order ETL input, one warm pass), untraced and traced,
and once more with a deliberately wrong expected value. Fails unless:

- the printed metric names and units equal the ``end_to_end`` list of
  ``BENCHMARK.json`` (untraced) and its ``per_layer`` list (traced);
- the clean runs are correct, with nothing failed;
- the wrong-expectation run counts a failure and is not correct.

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            res = result(w, trace)
            printed = {k: v["unit"] for k, v in res["metrics"].items()}
            if printed != declared[trace]:
                problems.append(f"{w} trace {trace}: metrics {printed} != declared {declared[trace]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace {trace}: clean run failed: {res}")
        wrong = result(w, 0, "--expect-wrong")
        if wrong["correct"] or wrong["failed"] < 1:
            problems.append(f"{w}: a wrong expected value was not counted: {wrong}")
        print(f"{w}: checked", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
