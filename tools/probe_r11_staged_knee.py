"""Staged-index shuffled-join knee probe (VERDICT r9 #3 / r10 #2).

SCALE.md has claimed since round 9 that when the historical band
table outgrows `spark.sql.autoBroadcastJoinThreshold`, the incremental
dedup's production fallback is the staged, band_idx-partitioned
parquet index probed as a SHUFFLED join — a sentence without a
figure. This probe measures that figure on the RI-preserving replicas:
for each scale it builds/reuses the staged index
(`stage_dedup_index`), reports the on-disk size of its band table
(the broadcast-knee input), then times the staged lane
(`incremental_dedup_staged_index_docs`) best-of-2 warm under

  - the engine default broadcast threshold (64 MB), and
  - threshold = -1 (broadcast disabled: the forced shuffled path),

printing the join strategies the executed plan actually chose, so the
delta isolates what crossing the knee costs — same lane, same data,
same hashing, only the join strategy moves.

Usage:
    python tools/probe_r11_staged_knee.py [sf_dir_1x] [replica ...]
    # defaults: /root/testdata/sf0.1 /tmp/sf1 /tmp/sf10
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.plans.text_queries import stage_dedup_index
    from etl_orders_spark.session import BROADCAST_THRESHOLD, get_spark
    from etl_orders_spark.sql import plan_summary

    spark = get_spark("probe_r11_staged_knee")
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1", "/tmp/sf10"]
    lane = query_map()["incremental_dedup_staged_index_docs"]
    for sf_dir in dirs:
        t0 = time.time()
        path = stage_dedup_index(spark, sf_dir)
        stage_s = time.time() - t0
        bands_mb = _dir_bytes(os.path.join(path, "bands")) / 1e6
        fp_mb = _dir_bytes(os.path.join(path, "fingerprints")) / 1e6
        print(
            f"{os.path.basename(sf_dir):>8} index: bands {bands_mb:8.1f} MB, "
            f"fingerprints {fp_mb:6.1f} MB (stage/reuse {stage_s:.1f}s)",
            flush=True,
        )
        for mode, thresh in (("broadcast-default", BROADCAST_THRESHOLD), ("forced-shuffle", "-1")):
            best, rows, joins = None, None, ""
            for _ in range(2):
                spark.catalog.clearCache()
                # pin AFTER the registry wrapper's pin_session_defaults
                # cannot undo it (it never touches this conf)
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
                df = lane(spark, sf_dir)
                t0 = time.time()
                rows = df.count()
                dt = time.time() - t0
                if best is None or dt < best:
                    best = dt
                s = plan_summary(df)
                joins = (
                    f"BHJ={s['broadcast_hash_joins']} SMJ={s['sort_merge_joins']} "
                    f"SHJ={s['shuffled_hash_joins']}"
                )
            print(
                f"{os.path.basename(sf_dir):>8} {mode:<18} {best:7.2f}s "
                f"rows={rows} {joins}",
                flush=True,
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
