"""Round-over-round bench regression report (VERDICT r6 #6, r7 #3).

The parsed final bench line carries only 2-decimal warm values; the
per-lane columns live in the ``bench_cold.json`` sidecar —
``queries_cold`` (first-execution cost: plan compile + codegen JIT +
stage-cache fill) and ``queries_warm`` (best-of-N steady state). This
script compares the current sidecar against a baseline (default: the
last committed version, ``git show HEAD:bench_cold.json``) and fails
loudly on per-lane regressions in EITHER column, by bench.py's one
rule (``regressions``: more than THRESHOLD x slower after box-speed
calibration, above NOISE_FLOOR_SEC).

Usage:
    python tools/cold_report.py                    # vs HEAD's sidecar
    python tools/cold_report.py old.json           # vs a file
    python tools/cold_report.py old.json new.json  # explicit pair

Exit code 1 iff any common lane regressed in either column, 2 when no
baseline was given and HEAD has no sidecar. Run it after ``python
bench.py`` refreshes the sidecar. Warm numbers carry ±25-30% noise
between runs (SCALE.md) — re-run on a quiet box before believing a
flagged warm regression, and decide optimizations by clearCache A/B
probes, not single bench deltas.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import THRESHOLD, head_sidecar, regressions  # noqa: E402


def _load(src: str) -> dict:
    with open(src) as f:
        return json.load(f)


def _diff_column(
    label: str, old: dict[str, float], new: dict[str, float], cal: float = 1.0
) -> int:
    """Print the regression report for one timing column; return the
    number of lanes bench.regressions flags. ``cal`` is the box-speed
    ratio (new calibration / old calibration) from the sidecars' fixed
    data-independent probe."""
    if not old or not new:
        print(f"{label}: column absent on one side "
              f"(old {len(old)} lanes, new {len(new)}) — skipped")
        return 0
    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    regressed = regressions(old, new, cal)
    improved = sum(old[n] > 0 and new[n] / old[n] / cal < 1 / THRESHOLD for n in common)

    cal_note = f", calibrated /{cal:.2f}" if cal != 1.0 else ""
    print(f"{label}: {len(common)} common lanes, "
          f"{improved} improved >{THRESHOLD}x, "
          f"{len(regressed)} regressed >{THRESHOLD}x{cal_note}")
    for name, o, n, ratio in sorted(regressed, key=lambda r: -r[3]):
        print(f"  REGRESSED {name}: {o:.3f}s -> {n:.3f}s ({ratio:.2f}x calibrated)")
    if added:
        print(f"  new lanes (no baseline): "
              f"{', '.join(f'{a} {new[a]:.3f}s' for a in added)}")
    if removed:
        print(f"  removed lanes: {', '.join(removed)}")
    tot_o = sum(old[n] for n in common)
    tot_n = sum(new[n] for n in common)
    if common and tot_o > 0:
        print(f"  common-lane total: {tot_o:.2f}s -> {tot_n:.2f}s "
              f"({tot_n / tot_o:.2f}x)")
    return len(regressed)


def main() -> int:
    args = sys.argv[1:]
    if len(args) >= 2:
        old_doc, new_doc = _load(args[0]), _load(args[1])
        old_src = args[0]
    elif len(args) == 1:
        old_doc = _load(args[0])
        new_doc = _load(os.path.join(REPO, "bench_cold.json"))
        old_src = args[0]
    else:
        old_doc = head_sidecar()
        if old_doc is None:
            print("no HEAD:bench_cold.json to diff against; pass a baseline file",
                  file=sys.stderr)
            return 2
        new_doc = _load(os.path.join(REPO, "bench_cold.json"))
        old_src = "HEAD:bench_cold.json"

    print(f"bench regression report vs {old_src}")
    cal = 1.0
    oc, nc = old_doc.get("calibration_sec"), new_doc.get("calibration_sec")
    if oc and nc:
        cal = nc / oc
        print(f"box-speed calibration: {oc:.3f}s -> {nc:.3f}s "
              f"(window ratio {cal:.2f}x; lane ratios normalized by it)")
    elif nc:
        print(f"box-speed calibration: {nc:.3f}s (baseline sidecar has none "
              "— raw ratios reported)")
    iso = new_doc.get("isolation_warm") or {}
    if iso:
        print("isolation re-measures (clean JIT neighborhood): "
              + ", ".join(f"{k} {v:.3f}s" for k, v in sorted(iso.items())))
    n_bad = _diff_column(
        "cold", old_doc.get("queries_cold", {}), new_doc.get("queries_cold", {}), cal
    )
    n_bad += _diff_column(
        "warm", old_doc.get("queries_warm", {}), new_doc.get("queries_warm", {}), cal
    )
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
