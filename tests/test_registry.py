"""Registry invariants: every registered pair keeps its contract.

The driver compares sorted column names before hashing values, so a
Spark/oracle column-name drift fails the gate at run time; this test
catches it at plan-analysis time (no data movement: Spark analysis +
DuckDB DESCRIBE only)."""

from __future__ import annotations

import duckdb
import pytest

from etl_orders_spark.plans.registry import PRIORITY, QUERIES, query_map, oracle_map

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# Every family that must keep at least one representative inside the
# driver's graded 50-query window. Round 2 lost ALL north-star families
# to accidental registration ordering; this pins the window's
# composition so a refactor can't silently drop one again.
_WINDOW_FAMILIES = (
    # landing formats / sources (S1/S1b/S2/S3 + Spark-4 surfaces).
    # "scd2" rotated out per VERDICT r7 #1 (slot ceded to the SemDeDup
    # lane); "orc" rotated out per VERDICT r8 #1 (slot ceded to the
    # native-JPEG lane — the write->read round-trip shape stays graded
    # via csv + jsonl, which share the identical oracle, and
    # orc_star_ingest stays local-sweep-green).
    "source", "csv", "json", "variant", "evolution",
    # relational core: A1-A5, P6-P7, J1-J4 (setop + the P5 recode ceded
    # their slots to round-5 lanes per VERDICT r5 #4; both stay
    # local-sweep-green)
    # "percentile" rotated out per VERDICT r9 #1 (percentile_prices
    # ceded its slot to the round-9/10 flagship rotation; exact +
    # approx percentiles stay benched + local-sweep-green)
    "agg", "pivot", "window", "topk", "join", "asof", "range",
    "scalar", "filter", "projection",
    # UDF/UDTF surface (§2.6)
    "udtf",
    # time / events / streaming twins (§2.5; "window-time" rotated out
    # in round 10 — tumbling_hourly_events ceded its slot, windowed
    # time aggregation stays graded via session_stats_events)
    "events", "sessionize",
    # LLM-data north stars
    "dedup", "lsh", "text", "similarity", "vector", "pipeline", "split",
    "privacy", "clustering",
    # per-family singletons
    "stats", "graph", "sketch", "curation", "dq", "drift", "linkage",
    "layout", "sampling",
    # multimodal pixel lane (real decode, r4; video near-dup r5);
    # round 11 adds the audio modality's end-to-end pipeline and the
    # eval-set decontamination gate as pinned families
    "media", "pixel", "video", "audio", "decontamination",
)


def test_priority_window_composition():
    """The driver grades exactly the first 50 queries() entries, so the
    curated window is itself a correctness surface: exactly 50 names,
    all registered, no duplicates, and every operator family keeps at
    least one representative inside it."""
    assert len(PRIORITY) == 50
    assert len(set(PRIORITY)) == 50
    q = query_map()  # loads all modules; raises if a PRIORITY name is unregistered
    assert list(q)[:50] == list(PRIORITY)
    window_tags = {t for n in PRIORITY for t in QUERIES[n].tags}
    missing = [fam for fam in _WINDOW_FAMILIES if fam not in window_tags]
    assert not missing, f"window lost families: {missing}"


def test_no_unpaired_oracles():
    q = query_map()
    o = oracle_map()
    assert set(o) <= set(q)


def test_bench_set_nonempty_and_registered():
    benched = [n for n, s in QUERIES.items() if s.bench]
    assert len(benched) >= 10
    assert set(benched) <= set(query_map())


def test_spark_and_oracle_schemas_agree(registry_plans, duck):
    """Analysis-time check: Spark plan columns == oracle columns for
    every SQL-paired query (the driver sorts by name before hashing)."""
    o = oracle_map()
    mismatches = {}
    for name, sql in o.items():
        spark_cols = sorted(f.name for f in registry_plans[name][0])
        cur = duck.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        oracle_cols = sorted(d[0] for d in cur.description)
        if spark_cols != oracle_cols:
            mismatches[name] = (spark_cols, oracle_cols)
    assert not mismatches, f"schema drift: {mismatches}"


def test_no_duplicate_output_columns(registry_plans):
    dupes = {}
    for name, (fields, _) in registry_plans.items():
        cols = [f.name for f in fields]
        if len(cols) != len(set(cols)):
            dupes[name] = cols
    assert not dupes, f"ambiguous output columns: {dupes}"


def test_no_lane_changes_the_session(registry_plans):
    """Building all lanes leaves every session conf as one pin set it:
    runtime confs are pinned in session.py, never by a builder."""
    assert registry_plans.conf_after == registry_plans.conf_before


def test_readme_inventory_counts_in_lockstep():
    """README.md is the coverage inventory SURVEY §2.8 points at; its
    registry counts drifted twice (VERDICT r6 #4) — pin them to the
    live registry so they cannot drift silently again."""
    import os
    import re

    from etl_orders_spark.plans.registry import oracle_map, query_map

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as f:
        text = f.read()
    m = re.search(r"(\d+) registered queries, (\d+) of them value-hash-checked", text)
    assert m, "README.md inventory sentence missing"
    assert int(m.group(1)) == len(query_map()), (
        f"README says {m.group(1)} registered queries; registry has {len(query_map())}"
    )
    assert int(m.group(2)) == len(oracle_map()), (
        f"README says {m.group(2)} value-hash-checked; registry has {len(oracle_map())}"
    )
    # VERDICT r7 #6: also pin the graded-window length and the bench-
    # lane count, so a rotation or a new bench lane can't leave a stale
    # sentence.
    m = re.search(r"grades the first (\d+) in registry order; (\d+) lanes are benched", text)
    assert m, "README.md window/bench sentence missing"
    assert int(m.group(1)) == len(PRIORITY), (
        f"README says the driver grades {m.group(1)}; PRIORITY has {len(PRIORITY)}"
    )
    benched = [n for n, s in QUERIES.items() if s.bench]
    assert int(m.group(2)) == len(benched), (
        f"README says {m.group(2)} bench lanes; registry has {len(benched)}"
    )
