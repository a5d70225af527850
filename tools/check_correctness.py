"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, comparing row count + sorted-column-name
schema + an order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

Exit code 0 iff every checked query matches (rows-only queries need
only rows >= 0); a query name the registry does not know is listed and
exits 2 before anything runs. The summary counts only this run's
queries.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.checks import value_hash  # noqa: E402  (the one value-hash law)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from etl_orders_spark.plans.registry import oracle_map, query_map
    from etl_orders_spark.session import get_spark

    qmap = query_map()
    omap = oracle_map()
    unknown = sorted(only - qmap.keys())
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark("check_correctness", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    results: dict[str, dict] = {}
    failed = []
    for name, builder in sorted(qmap.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        rec: dict = {}
        try:
            df = builder(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(rows)
            rec["spark_cols"] = sorted(cols)
            # recorded for every query, rows-only ones too, so two
            # sweeps (e.g. before and after a change) diff value by value
            rec["spark_hash"] = value_hash(cols, rows)
        except Exception as e:
            rec["error"] = f"spark: {type(e).__name__}: {e}"
            traceback.print_exc()
            results[name] = rec
            failed.append(name)
            print(f"FAIL  {name}: spark error")
            continue
        sql = omap.get(name)
        if sql is None:
            rec["mode"] = "rows_only"
            rec["ok"] = rec["spark_rows"] >= 0
            results[name] = rec
            print(f"ok    {name}: rows-only ({rec['spark_rows']} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            rec["error"] = f"duckdb: {type(e).__name__}: {e}"
            results[name] = rec
            failed.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        rec["oracle_rows"] = len(orows)
        rec["oracle_cols"] = sorted(ocols)
        rec["rows_match"] = rec["spark_rows"] == rec["oracle_rows"]
        rec["schema_match"] = rec["spark_cols"] == rec["oracle_cols"]
        rec["hash_match"] = rec["spark_hash"] == value_hash(ocols, orows)
        rec["ok"] = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        results[name] = rec
        status = "ok   " if rec["ok"] else "FAIL "
        if not rec["ok"]:
            failed.append(name)
        print(
            f"{status} {name}: rows {rec['spark_rows']}/{rec['oracle_rows']} "
            f"schema={rec['schema_match']} hash={rec['hash_match']} ({time.time()-t0:.1f}s)"
        )

    n_ok = sum(1 for r in results.values() if r.get("ok"))
    print(f"\n{n_ok}/{len(results)} ok; failed: {failed}")
    out = os.path.join(REPO, "tools", "correctness_local.json")
    if only and os.path.exists(out):
        # subset runs refresh their own entries inside the last full
        # sweep instead of clobbering it down to the subset
        with open(out) as f:
            merged = json.load(f)
        merged.update(results)
        results = merged
    with open(out, "w") as f:
        json.dump(results, f, indent=1, default=str)
    return 0 if not failed else 1


if __name__ == "__main__":
    raise SystemExit(main())
