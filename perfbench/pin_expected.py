"""Pin the expected result of every corpus lane into ``expected.json``.

    python3 perfbench/pin_expected.py

Writes the benchmark's corpus at each scale the runner uses and takes
each lane's row count and value hash from the lane's DuckDB oracle
query in the plan registry. Rerun it only when the lane list, the
corpus generator or an oracle changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import data  # noqa: E402
import run  # noqa: E402


def main() -> int:
    from etl_orders_spark.plans.registry import oracle_map

    oracles = oracle_map()
    pins: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for sf in sorted(set(run.CORPUS_SF.values())):
            sf_dir = os.path.join(tmp, repr(sf))
            data.write_tables(sf_dir, sf, run.DATA_SEED)
            con = duckdb.connect()
            for t in data.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            pins[repr(sf)] = {}
            for lane in run.CORPUS_LANES:
                cur = con.execute(oracles[lane])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                pins[repr(sf)][lane] = {"rows": len(rows), "hash": checks.value_hash(cols, rows)}
                print(sf, lane, pins[repr(sf)][lane])
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data_seed": run.DATA_SEED, "lanes": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
