"""Resilient parquet scan: survive corrupt files, and say WHICH ones.

At 100 TB a fact directory always contains a few bad files — truncated
by a killed writer, bit-rotted, or half-replicated. Spark's
`spark.sql.files.ignoreCorruptFiles` makes the scan survive them, but
silently: the row count quietly drops and nobody learns which files
died. The pair here restores the CSV quarantine lane's contract
(sources/readers.py) for parquet:

- ``validate_parquet_files`` — a DISTRIBUTED footer audit: the file
  listing parallelizes across executors and each worker parses footers
  with pyarrow (a footer read, never a data scan), emitting
  (path, ok, error) per file.
- ``read_parquet_resilient`` — scans exactly the files the audit
  proved good (an explicit allowlist — stronger than
  ignoreCorruptFiles, which both skips silently and still dies on a
  file whose footer parses but whose pages are torn) and returns the
  quarantine report beside the DataFrame, so the loss is measured and
  attributable instead of silent.

Scale: the audit costs one footer parse per file, distributed — at
100k files that is a few seconds across a fleet, and it is the same
metadata the scan planner touches anyway. The report is file-grain
(bounded by file count, not rows) and STAYS distributed: the good-file
scan is driven either by a bounded collected path list (small
directories — Spark's native reader with basePath, full pushdown and
typed partition inference) or by a manifest join above the threshold
(each worker pyarrow-reads its share of the allowlist DataFrame), so
neither the driver nor any plan node ever holds a million-path list.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_orders_spark.operators.grouped_map import map_rows


def _list_parquet_files(root: str) -> list[str]:
    """Leaf .parquet data files under root (a file, a flat directory,
    or a hive-partitioned tree). Skips _SUCCESS/_metadata markers and
    hidden files AND prunes hidden/underscore directories
    (_temporary, _spark_metadata, .staging trees a killed writer
    leaves behind), mirroring Spark's own listing rules — descending
    into _temporary would resurrect uncommitted task attempts as
    'good' duplicate rows."""
    if os.path.isfile(root):
        return [root]
    out: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.startswith(("_", ".")):
                continue
            out.append(os.path.join(dirpath, f))
    return sorted(out)


_AUDIT_SCHEMA = "path string, ok boolean, error string, error_class string, bytes bigint"


def validate_parquet_files(spark: SparkSession, root: str) -> DataFrame:
    """Distributed footer audit → (path, ok, error, error_class, bytes)
    per data file. ``error_class`` is the exception type name (a
    bounded-cardinality grouping key for dashboards) and ``bytes`` the
    on-disk file size — together they make the quarantine report a
    METRICS relation, not a log line: at 10⁵–10⁶ files the daily
    question is "how many bytes died, of what error class", and that
    aggregation must happen distributed, not by grepping driver logs."""
    files = _list_parquet_files(root)
    if not files:
        return spark.createDataFrame([], _AUDIT_SCHEMA)
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), 64)
    )

    import pyarrow.parquet as pq

    def check(p):  # closure: pickled by value
        try:
            size = os.path.getsize(p)
        except OSError:
            size = 0
        try:
            md = pq.ParquetFile(p).metadata  # footer parse only
            if md is not None:
                return [(p, True, None, None, size)]
            return [(p, False, "no metadata", "NoMetadata", size)]
        except Exception as e:  # noqa: BLE001 — the point is to report
            return [(p, False, f"{type(e).__name__}: {e}"[:200], type(e).__name__, size)]

    return map_rows(fdf, check, _AUDIT_SCHEMA)


def dead_letter_metrics(report: DataFrame) -> DataFrame:
    """Aggregate a footer-audit report into the per-run dead-letter
    relation an operator watches daily: one row per error class with
    file count and total bytes quarantined. Pure groupBy over the
    file-grain report (bounded by file count, never rows), so it runs
    through the same distributed path as the audit itself — at 10⁶
    files this is a trivial shuffle of ≤ a few distinct error classes."""
    from pyspark.sql import functions as F

    return (
        report.filter(~F.col("ok"))
        .groupBy("error_class")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy(F.col("n_files").desc(), "error_class")
    )


def _partition_keys(path: str, root: str) -> list[tuple[str, str]]:
    """Hive-style (key, value) pairs from the path segments between
    root and the file name, in tree order."""
    rel = os.path.relpath(os.path.dirname(os.path.abspath(path)), os.path.abspath(root))
    out: list[tuple[str, str]] = []
    for seg in rel.split(os.sep):
        if "=" in seg and not seg.startswith((".", "_")):
            k, _, v = seg.partition("=")
            out.append((k, v))
    return out


def _manifest_scan(spark: SparkSession, good_paths: DataFrame, root: str) -> DataFrame:
    """Distributed allowlist scan: each worker reads its share of the
    manifest's files with pyarrow and streams Arrow batches back — no
    path list ever materializes on the driver and no plan node carries
    a million-element path vararg. Hive-style ``key=value`` path
    segments come back as STRING partition columns (documented
    simplification vs Spark's typed partition inference; the
    sub-threshold path keeps Spark's own inference via basePath)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    # schema from the UNION of a bounded footer sample: the
    # lexicographically first and last good paths (deterministic across
    # runs — limit(1) is not) PLUS six hash-selected paths (smallest
    # xxhash64(path): deterministic, spread uniformly over the listing
    # regardless of naming). Sampling one footer silently DROPS columns
    # a newer generation added whenever an old-generation file happens
    # to sort first; the first/last pair covers the common
    # evolve-over-time layout (generations cluster lexicographically),
    # and the hash sample catches generations hidden mid-sort. The
    # sample is a pure function of the file SET (hash order), so a
    # given layout either always resolves the full schema or always
    # misses it — no run-to-run flakiness; a mid-sort generation
    # holding share s of the files is missed with probability ~(1-s)^6
    # (documented residual: tiny interleaved generations), and files
    # conform to the union by NULL-fill either way.
    # prefer_timestamp_ntz matches Spark's native parquet inference for
    # timestamps without timezone (isAdjustedToUTC=false): without it a
    # TIMESTAMP_NTZ column would come back session-tz-adjusted and the
    # two scan modes would diverge in any non-UTC session.
    import pyarrow as pa

    from pyspark.sql import functions as F

    row = good_paths.agg(F.min("path"), F.max("path")).collect()[0]
    first = row[0]
    sampled = [
        r["path"]
        for r in good_paths.orderBy(F.xxhash64("path"), "path").limit(6).collect()
    ]
    sample_paths = list(dict.fromkeys([row[0], row[1], *sampled]))
    arrow_schemas = [pq.ParquetFile(p).schema_arrow for p in sample_paths]
    try:
        unified = pa.unify_schemas(arrow_schemas)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        # conflicting types for a shared column somewhere in the
        # sample: degrade to the two-ended union (never WORSE than the
        # pre-sampling behavior — a conflicting mid-sort file must not
        # collapse the schema below what first+last alone provide),
        # then to the first footer alone, rather than guess a type
        # promotion DuckDB/Spark native readers wouldn't make
        ends = [pq.ParquetFile(p).schema_arrow for p in dict.fromkeys((row[0], row[1]))]
        try:
            unified = pa.unify_schemas(ends)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            unified = ends[0]
    schema = from_arrow_schema(unified, prefer_timestamp_ntz=True)
    part_keys = [k for k, _ in _partition_keys(first, root)]
    ddl_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields] + [
        f"`{k}` string" for k in part_keys
    ]
    out_schema = ", ".join(ddl_parts)
    data_cols = [f.name for f in schema.fields]
    root_abs = os.path.abspath(root)

    def read_files(batches):  # closure: pickled by value
        import os as _os

        import pyarrow.parquet as _pq

        for pdf in batches:
            for p in pdf["path"]:
                out = _pq.read_table(p).to_pandas()
                # conform each file to the manifest schema: a column a
                # schema-evolved older generation lacks fills with NULL
                # (matching the native reader's behavior) instead of a
                # worker-killing KeyError; extra columns drop
                out = out.reindex(columns=data_cols)
                rel = _os.path.relpath(_os.path.dirname(_os.path.abspath(p)), root_abs)
                vals = dict(
                    seg.partition("=")[::2]
                    for seg in rel.split(_os.sep)
                    if "=" in seg and not seg.startswith((".", "_"))
                )
                for k in part_keys:
                    out[k] = vals.get(k)
                yield out

    n_slots = spark.sparkContext.defaultParallelism * 4
    return good_paths.repartition(n_slots).mapInPandas(read_files, out_schema)


def read_parquet_resilient(
    spark: SparkSession, root: str, manifest_threshold: int = 10_000
) -> tuple[DataFrame, DataFrame]:
    """Scan `root` surviving corrupt members; return (data, report).

    The data scan reads only the files the audit proved good — an
    explicit allowlist, so the result is deterministic and the loss is
    exactly the report's `ok = false` rows (`ignoreCorruptFiles` alone
    can still die on a file whose footer parses but whose pages are
    torn, and says nothing about what it skipped). Raises if NO file
    is readable — an all-corrupt directory is an outage, not a lane.

    The audit executes ONCE (eager localCheckpoint): the returned
    report reads its blocks, so inspecting it never re-parses footers,
    and nothing file-grained is collected to the driver beyond what
    the scan mode needs.

    Two scan modes, switched on the good-file count:
    - **<= manifest_threshold**: collect just the (bounded) path list
      and scan through Spark's native parquet reader with
      ``basePath = root`` — full pushdown/vectorization AND typed
      hive partition-column inference for partitioned trees.
    - **above it**: a manifest-driven distributed read — the
      allowlist DataFrame repartitions across executors and each
      worker streams its files through pyarrow (``_manifest_scan``),
      so neither the driver list nor the plan's path vararg grows
      with the directory. Partition columns surface as strings in
      this mode.
    """
    report = validate_parquet_files(spark, root).localCheckpoint(eager=True)
    good_paths = report.filter("ok").select("path")
    n_good = good_paths.count()
    if n_good == 0:
        raise ValueError(f"read_parquet_resilient: no readable parquet under {root}")
    if n_good <= manifest_threshold:
        good = [r["path"] for r in good_paths.collect()]  # bounded by threshold
        reader = spark.read
        if os.path.isdir(root):
            # without basePath, leaf-file scans of a hive-partitioned
            # tree silently DROP the partition columns from the schema
            reader = reader.option("basePath", root)
        return reader.parquet(*good), report
    return _manifest_scan(spark, good_paths, root), report
