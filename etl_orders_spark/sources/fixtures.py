"""Deterministic reference-shaped ingestion fixtures (S1/S2 oracle inputs).

The CSV + JSON-envelope scans (SURVEY.md §2.1 S1/S2 — the reference's
primary ingestion, reference: dags/etl.py:34-43) can only be
oracle-checked if BOTH engines read the same physical files: Spark via
``read_csv``/``read_json_envelope``, DuckDB via
``read_csv``/``read_json``. This module materializes a small
reference-shaped fixture set (same value domains as the reference
generator, reference: dags/utils/create_data_source.ipynb cells
3/5/7/9) at a deterministic path inside the repo, written with pure
Python so no SparkSession is needed at staging time and the oracle SQL
can bake in absolute paths.

Content is fully deterministic (seeded ``random.Random``); a version
marker makes staging idempotent, so registration-time imports, the
driver's Spark run, and the driver's DuckDB run all see identical
bytes. Fixture-scale only by design — the distributed ingestion path
is the reader (sources/readers.py), not this writer.
"""

from __future__ import annotations

import csv
import json
import os
import random

from etl_orders_spark.sources.generator import _CATEGORIES, _FIRST, _GENDERS, _LAST

_FIXTURE_VERSION = "1"

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
    "ingest",
)

ORDERS_CSV = os.path.join(FIXTURE_DIR, "orders.csv")
PRODUCTS_CSV = os.path.join(FIXTURE_DIR, "products.csv")
USERS_CSV = os.path.join(FIXTURE_DIR, "users.csv")
USER_INFO_JSON = os.path.join(FIXTURE_DIR, "user_info.json")


def ensure_ingest_fixtures() -> dict[str, str]:
    """Write the fixture set if absent or stale; return the paths.

    Domains mirror the reference (SURVEY.md §1.4): 3000 order facts
    over 2024-04-01..07 with Product_ID 1..10 (1/9/10 dangle) and
    User_ID 1..100; products Ids 2..8 only; users Id 1..300 ↔
    Document 300000..300299; user_info documents 300000..300499 (a
    superset) with dirty gender variants and ``T00:00:00``-suffixed
    ISO birthdays.
    """
    marker = os.path.join(FIXTURE_DIR, ".version")
    paths = {
        "orders": ORDERS_CSV,
        "products": PRODUCTS_CSV,
        "users": USERS_CSV,
        "user_info": USER_INFO_JSON,
    }
    if os.path.exists(marker) and all(os.path.exists(p) for p in paths.values()):
        with open(marker) as f:
            if f.read().strip() == _FIXTURE_VERSION:
                return paths

    os.makedirs(FIXTURE_DIR, exist_ok=True)
    rng = random.Random(20240401)

    # concurrent regeneration safety: the Spark and DuckDB halves of a
    # driver run import this module in separate processes — each writes
    # its own temp files and atomically renames into place, so a reader
    # trusting the other process's return value never scans a torn file
    # (rename is atomic on POSIX; both writers produce identical bytes).
    # The tag is a uuid, NOT a pid: sandboxed/containerized runs give
    # different processes the same namespace pid, colliding tmp names.
    import uuid

    tag = uuid.uuid4().hex

    def _tmp(path: str) -> str:
        return f"{path}.tmp.{tag}"

    with open(_tmp(ORDERS_CSV), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Fecha", "Product_ID", "User_ID"])
        for _ in range(3000):
            day = rng.randrange(7) + 1  # 2024-04-01..07
            w.writerow([f"2024-04-{day:02d}", rng.randrange(1, 11), rng.randrange(1, 101)])

    with open(_tmp(PRODUCTS_CSV), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Id", "Name", "Category", "Price"])
        for pid in range(2, 9):  # reference cell 5: range(2, 9)
            w.writerow(
                [pid, f"Product {pid}", rng.choice(_CATEGORIES), rng.randrange(1000, 100001)]
            )

    with open(_tmp(USERS_CSV), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Id", "Document"])
        for uid in range(1, 301):
            w.writerow([uid, uid + 299999])

    records = []
    for i in range(500):
        doc = 300000 + i
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        year = rng.randrange(1964, 2007)
        month = rng.randrange(1, 13)
        day = rng.randrange(1, 29)
        records.append(
            {
                "document": doc,
                "name": f"{first} {last}",
                "birthday": f"{year:04d}-{month:02d}-{day:02d}T00:00:00",
                "gender": rng.choice(_GENDERS),
                "email": f"{first.lower()}.{last.lower()}{doc}@example.com",
                "phone": f"({rng.randrange(100, 1000)}) 555-{rng.randrange(1000, 10000)}",
            }
        )
    with open(_tmp(USER_INFO_JSON), "w") as f:
        json.dump({"status": 200, "data": records}, f)

    for path in (ORDERS_CSV, PRODUCTS_CSV, USERS_CSV, USER_INFO_JSON):
        os.replace(_tmp(path), path)
    with open(_tmp(marker), "w") as f:
        f.write(_FIXTURE_VERSION)
    os.replace(_tmp(marker), marker)
    # best-effort sweep of tmp litter from CRASHED runs only: an age
    # floor keeps this from deleting a concurrent writer's in-flight
    # tmp files (that writer's os.replace would then fail)
    import time

    for f in os.listdir(FIXTURE_DIR):
        if ".tmp." in f:
            full = os.path.join(FIXTURE_DIR, f)
            try:
                if time.time() - os.path.getmtime(full) > 3600:
                    os.remove(full)
            except OSError:
                pass
    return paths
