"""S7 — synthetic reference-shaped data generator (SURVEY.md §2.1 S7).

Mirrors the reference generator's value domains (reference:
dags/utils/create_data_source.ipynb cells 3/5/7/9 and
dags/utils/random_date.py:4-15) as Spark-native plans: `spark.range`
+ seeded `F.rand` — no Faker, no driver-side loops, so the same
generator produces 3k rows for the golden test or 3B rows for a scale
run. Determinism comes from fixed rand seeds.

Domains (see FIXTURES.md §A):
- orders: Fecha uniform 2024-04-01..07, Product_ID 1..10 (1/9/10
  dangle), User_ID 1..100
- products: Ids 2..8 only
- users: Id 1..300 ↔ Document 300000..300299
- user_info: document 300000..300499 (superset), dirty gender in
  {M, F, Male, f, Other}, ISO birthday with T00:00:00 suffix
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CATEGORIES = ("Home", "Beauty", "Clothing", "Grocery", "Movies", "Games", "Garden")
_FIRST = ("Ana", "Luis", "Maria", "Juan", "Sofia", "Carlos", "Lucia", "Pedro", "Elena", "Diego")
_LAST = ("Garcia", "Lopez", "Martinez", "Rodriguez", "Perez", "Sanchez", "Romero", "Torres")
_GENDERS = ("M", "F", "Male", "f", "Other")  # dirty domain, reference cell 9

# F.rand(seed) seeds per PARTITION (seed + partitionIndex) and advances
# per row within it — an unpinned spark.range would partition by the
# machine's core count and the same seed would yield different fixtures
# on different machines. Pinned to the test layout (8) for all time.
_N_PARTS = 8


def _pick(options: tuple[str, ...], rand: F.Column) -> F.Column:
    """Uniform pick from a literal list via a seeded rand column."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.floor(rand * len(options)) + 1).cast("int"))


def gen_orders(spark: SparkSession, n: int = 3000, seed: int = 11) -> DataFrame:
    """Order facts (reference cell 3 + random_date.py:4-15)."""
    return spark.range(0, n, 1, _N_PARTS).select(
        F.date_add(F.lit("2024-04-01").cast("date"), (F.rand(seed) * 7).cast("int"))
        .cast("string")
        .alias("Fecha"),
        (F.floor(F.rand(seed + 1) * 10) + 1).cast("long").alias("Product_ID"),
        (F.floor(F.rand(seed + 2) * 100) + 1).cast("long").alias("User_ID"),
    )


def gen_products(spark: SparkSession, seed: int = 23) -> DataFrame:
    """Product dimension, Ids 2..8 only (reference cell 5: range(2, 9))."""
    return spark.range(2, 9, 1, _N_PARTS).select(
        F.col("id").cast("long").alias("Id"),
        F.concat(F.lit("Product "), F.col("id").cast("string")).alias("Name"),
        _pick(_CATEGORIES, F.rand(seed)).alias("Category"),
        (F.floor(F.rand(seed + 1) * 99001) + 1000).cast("long").alias("Price"),
    )


def gen_users(spark: SparkSession) -> DataFrame:
    """Key-mapping dimension: Id 1..300 ↔ Document 300000.. (reference cell 7)."""
    return spark.range(1, 301, 1, _N_PARTS).select(
        F.col("id").cast("long").alias("Id"),
        (F.col("id") + 299999).cast("long").alias("Document"),
    )


def gen_user_info(spark: SparkSession, seed: int = 37) -> DataFrame:
    """Enrichment dimension keyed by document, superset of users'
    (reference cell 9): dirty gender, ISO birthday, synthetic PII."""
    doc = (F.col("id") + 300000).cast("long")
    first = _pick(_FIRST, F.rand(seed))
    last = _pick(_LAST, F.rand(seed + 1))
    bday = F.date_add(
        F.lit("1964-01-01").cast("date"), (F.rand(seed + 2) * 15687).cast("int")
    ).cast("string")
    return spark.range(0, 500, 1, _N_PARTS).select(
        doc.alias("document"),
        F.concat_ws(" ", first, last).alias("name"),
        F.concat(bday, F.lit("T00:00:00")).alias("birthday"),
        _pick(_GENDERS, F.rand(seed + 3)).alias("gender"),
        F.concat(
            F.lower(first), F.lit("."), F.lower(last), doc.cast("string"), F.lit("@example.com")
        ).alias("email"),
        F.concat(
            F.lit("("), F.floor(F.rand(seed + 4) * 900 + 100).cast("int").cast("string"),
            F.lit(") 555-"), F.floor(F.rand(seed + 5) * 9000 + 1000).cast("int").cast("string"),
        ).alias("phone"),
    )


def write_reference_fixtures(spark: SparkSession, out_dir: str) -> dict[str, str]:
    """Materialize the reference-shaped fixture set: three header CSVs
    plus the `{"status": 200, "data": [...]}` JSON envelope (reference:
    outputFiles/*). The envelope is a single whole-file document by
    construction, so it is rendered driver-side — fixture-scale only;
    the distributed path for envelope JSON is the reader, not this
    writer.
    """
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in (
        ("orders", gen_orders(spark)),
        ("products", gen_products(spark)),
        ("users", gen_users(spark)),
    ):
        p = os.path.join(out_dir, f"{name}_csv")
        df.write.mode("overwrite").option("header", "true").csv(p)
        paths[name] = p
    info = [r.asDict() for r in gen_user_info(spark).collect()]
    p = os.path.join(out_dir, "user_info.json")
    with open(p, "w") as f:
        json.dump({"status": 200, "data": info}, f)
    paths["user_info"] = p
    return paths
