"""Scan operators (SURVEY.md §2.1: S1 CSV, S2 JSON+envelope, S3 parquet).

The reference extracts with pandas (`pd.read_csv`, reference:
dags/etl.py:41-43; `json.load` + `pd.json_normalize`, reference:
dags/etl.py:34-40) and ships full tables between tasks. Here each scan
is a lazy Catalyst relation with an explicit schema — filters and
column projection reach the file reader, nothing materializes until an
action, and at 100 TB the parquet path gets vectorized reads +
partition pruning for free.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_orders_spark.sources.schemas import TESTDATA_SCHEMAS

TABLES = tuple(TESTDATA_SCHEMAS)


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3 — parquet scan, the engine's primary format.

    Schema is asserted (not inferred from a footer sample) when given,
    so a drifting upstream file fails loudly instead of silently
    widening types.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _events_ts_is_nanos(path: str) -> bool:
    """True iff the events file stores ``ts`` as TIMESTAMP(NANOS).

    Different testdata generations encode ``ts`` differently (INT64
    TIMESTAMP(NANOS) vs plain TIMESTAMP(MICROS)); one driver-side footer
    read (pyarrow, no data pages) disambiguates so the declared Spark
    schema always matches the physical type. Cached per (file, mtime,
    size) — not per path alone, so a fixture regenerated in place with
    the other encoding (exactly the drift this sniff exists for) is
    re-sniffed instead of read with a stale schema.
    """
    target = path
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
        if not parts:
            return False
        target = os.path.join(path, parts[0])
    st = os.stat(target)
    return _sniff_ts_unit(target, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=None)
def _sniff_ts_unit(target: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    field = pq.ParquetFile(target).schema_arrow.field("ts")
    return getattr(field.type, "unit", None) == "ns"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver testdata table by name with its declared schema.

    ``events.ts`` needs physical-type dispatch: when stored as INT64
    TIMESTAMP(NANOS) (which Spark's parquet reader rejects as
    TimestampType) it is scanned as long via `spark.sql.legacy.parquet.
    nanosAsLong=true` and converted here (`ts div 1000` — integer
    division, matching DuckDB's truncating TIMESTAMP_NS→TIMESTAMP cast);
    when stored as TIMESTAMP(MICROS) it reads natively as TimestampType.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TESTDATA_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = TESTDATA_SCHEMAS[name]
    if name == "events":
        if _events_ts_is_nanos(path):
            df = read_parquet(spark, path, schema)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        schema = _micros_schema(schema)
    return read_parquet(spark, path, schema)


def load_table_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`load_table` + `fan_out_narrow`: for CPU-heavy per-row chains
    (regex quality/lang scoring, shingling, hashing) over tables that
    scan as very few partitions — a small single-row-group parquet
    file is ONE scan split, and Catalyst pushes filters back through
    any repartition to the scan side, so the heavy chain runs on one
    core of a 32-core box (measured: text_quality_by_lang 1.03 s ->
    0.56 s warm, 3.2 s -> 1.1 s cold at sf0.1 after widening).

    Keyed by TABLE NAME so every consumer of the same table shares
    ONE fanned-out cache (two keys over one CacheManager-deduped plan
    would let one key's eviction unpersist blocks the other still
    uses). No-op at real scale via fan_out_narrow's gates (input
    already wide, or scan bytes unknown/over 1 GiB)."""
    from etl_orders_spark.operators.materialize import fan_out_narrow

    return fan_out_narrow(load_table(spark, sf_dir, name), name)


def _micros_schema(schema: "T.StructType") -> "T.StructType":
    """The declared events schema with `ts` swapped to TimestampType —
    the MICROS-encoded dispatch target shared by the batch and
    streaming scans (one definition, so the twins cannot diverge)."""
    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType() if f.name == "ts" else f.dataType)
            for f in schema.fields
        ]
    )


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_table(..., "events")``.

    Same footer-sniff dispatch as the batch path (the sniff itself is a
    driver-side pyarrow read, legal before the stream starts): NANOS
    files scan as long and convert with the identical truncating
    ``ts div 1000``; MICROS files read natively as TimestampType.

    Path dispatch mirrors the batch sniff's: when ``events.parquet``
    is a DIRECTORY of part files the stream reads it directly (the
    file source accepts a directory); only when it is a single file
    does the stream fall back to a pathGlobFilter over sf_dir — a
    glob there with the directory layout would match no leaf files
    and silently stream zero rows.
    """
    path = os.path.join(sf_dir, "events.parquet")
    schema = TESTDATA_SCHEMAS["events"]
    nanos = _events_ts_is_nanos(path)
    if not nanos:
        schema = _micros_schema(schema)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def with_provenance(df: DataFrame, batch_id: str) -> DataFrame:
    """Stamp ingestion provenance onto a scanned frame: the source
    file each row came from (`_source_file`, from the scan's file
    split — zero-cost, no shuffle) and the caller-supplied batch id
    (`_ingest_batch`). The audit columns every regulated 100 TB lake
    carries so a bad upstream file can be traced and surgically
    re-ingested; the reference loses all provenance at its first XCom
    hop (reference: dags/etl.py:45)."""
    return df.withColumn("_source_file", F.input_file_name()).withColumn(
        "_ingest_batch", F.lit(batch_id)
    )


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S1 — ORC scan: the other columnar landing format a Spark lake
    meets (Hive-era feeds land ORC; parquet is this engine's native
    staging format). Same contract as read_parquet — optional explicit
    schema for pruning, no inference pass; predicate pushdown and
    column pruning work identically (ORC carries its own min/max
    stripe statistics)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1 — scan of a headed CSV with explicit schema (reference:
    dags/etl.py:41-43).

    `inferSchema` is deliberately unsupported: at scale it is an extra
    full pass and a nondeterminism source; the reference's
    positional-header overwrite (dags/etl.py:55) is replaced by the
    declared StructType.
    """
    return spark.read.option("header", "true").schema(schema).csv(path)


def read_csv_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S1 hardened for production ingestion: CSV scan with a
    quarantine lane. Malformed rows (arity mismatch, unparseable
    values) land in ``_corrupt_record`` under PERMISSIVE mode instead
    of failing the load or silently nulling — the caller gets
    ``(good, bad, parsed)``: good rows with the declared schema, bad
    rows as (raw_line,) for a dead-letter sink, and the shared CACHED
    parent — returned so the caller can ``parsed.unpersist()`` once
    both lanes are written (the lanes' own unpersist would not release
    the parent, and an unreleasable cache per ingest file is a leak).

    At 100 TB a malformed row is a certainty, not an edge case; the
    reference's ``pd.read_csv`` (reference: dags/etl.py:41-43) simply
    crashes the task. The parsed scan is cached: Spark's analyzer
    rejects any plan whose file scan would read ONLY the internal
    corrupt column (the bad lane after pruning), and the documented
    contract is to cache the parse first. That is also the honest
    cost model — the quarantine split is two consumers of one parse,
    and the production form writes both lanes write-through in one
    job (foreachBatch / two .write calls over this same cached frame)
    rather than holding a 100 TB cache interactively."""
    return _quarantine_split(
        schema,
        lambda reader: reader.option("header", True).csv(path),
        spark,
    )


def _quarantine_split(schema, load, spark):
    """The shared quarantine mechanism for text landing formats: one
    augmented-schema PERMISSIVE parse, cached (the analyzer rejects a
    scan reading ONLY the internal corrupt column, and caching is the
    honest one-parse-two-lanes cost model), split into the good lane
    (declared schema) and the dead-letter lane (raw bytes preserved).
    ``load`` receives a reader pre-configured with the corrupt-record
    options and issues the format-specific call — keeping the
    contract (augmentation, cache-before-filter, lane filters) in ONE
    place so a fix to one format cannot silently miss the other."""
    aug = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = load(
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    ).cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad, df


def read_json_envelope(
    spark: SparkSession,
    path: str,
    envelope_schema: T.StructType,
) -> DataFrame:
    """S2 — JSON scan + envelope flatten (reference: dags/etl.py:34-40).

    The reference loads the whole JSON into driver memory and
    `pd.json_normalize`s the ``data`` array; here the envelope is a
    multiLine JSON relation and the array explodes distributed-side:
    ``explode(data)`` then ``data.*``. One driver never holds the
    payload.
    """
    raw = spark.read.schema(envelope_schema).option("multiLine", "true").json(path)
    return raw.select(F.explode(F.col("data")).alias("_rec")).select("_rec.*")


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2 variant — newline-delimited JSON (one record per line), the
    bulk-interchange format the envelope form doesn't cover: JSONL
    splits by line, so a single file parallelizes across tasks, while
    a multiLine envelope document is one split by construction. Schema
    is declared, never inferred (inference is an extra full pass and a
    nondeterminism source at scale)."""
    return spark.read.schema(schema).json(path)


def from_json_strings(df: DataFrame, column: str, schema: T.StructType | str) -> DataFrame:
    """S2 variant — parse a string column of embedded JSON (e.g. events.props)
    into a struct column named ``parsed`` via `from_json` (JVM-side, no UDF)."""
    return df.withColumn("parsed", F.from_json(F.col(column), schema))


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S2 hardened for production ingestion: JSONL scan with the same
    quarantine contract as read_csv_quarantine — malformed lines
    (truncated JSON, wrong types, stray text) land in
    ``_corrupt_record`` under PERMISSIVE mode instead of failing the
    load or silently nulling. Returns ``(good, bad, parsed)``; the
    caller unpersists ``parsed`` once both lanes are written.

    JSONL is the landing format LLM corpora actually arrive in, and at
    corpus scale a torn line per shard is a certainty — the quarantine
    lane makes the loss measured and replayable (raw_line preserves
    the original bytes for a dead-letter sink) instead of a crashed
    task or a silent null row."""
    return _quarantine_split(schema, lambda reader: reader.json(path), spark)
