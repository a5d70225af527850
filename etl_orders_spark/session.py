"""SparkSession factory and the engine's one session-conf rule.

The reference runs one pandas task at a time under Airflow's
SequentialExecutor (reference: airflow.cfg:45); here a single lazy
SparkSession replaces the whole DAG and the executor tier scales out.

``pin_session_defaults(spark)`` is the only code that sets a runtime
conf. ``get_spark`` gives the builder only launch-only confs and the
broadcast threshold, then pins the session it gets, so a bare session
(the verification driver's) and a ``get_spark`` session get the same
runtime confs from the same code. Every registry build pins again; no
builder writes a session conf.

Runtime confs, all ``spark.sql.*`` (``RUNTIME_CONFS`` plus one rule):

- ``session.timeZone=UTC``: stable timestamp semantics across driver,
  executors and external oracles.
- ``legacy.parquet.nanosAsLong=true``: events.parquet may store ``ts``
  as INT64 TIMESTAMP(NANOS), which Spark cannot read as a timestamp;
  ``sources/readers.load_table`` converts the long.
- ``execution.arrow.pyspark.enabled=true``: Arrow for any ``toPandas``.
- ``legacy.bucketedTableScan.outputOrdering=true``: Spark 3+ ignores a
  bucketed table's sortBy order at read time (SPARK-28595);
  ``layout_queries.ensure_bucketed_pair`` writes one sorted file per
  bucket, so the scan may declare its order and the merge join drops
  its Sort. Only sorted bucketed tables observe it.
- ``shuffle.partitions``: ``shuffle_partitions(spark)``.

Launch-only confs, fixed when a session starts (the pin cannot set
them on a session someone else started):

- ``spark.driver.memory`` (``SPARK_GRAFT_DRIVER_MEM``, default 8g) and
  ``spark.ui.enabled=false``;
- ``spark.sql.codegen.cache.maxEntries=1000``: the corpus cold pass
  generates ~155 classes and the default cache holds 100, so each warm
  pass recompiled 56 with Janino; with the setting, 5.
- ``spark.python.daemon.module`` = ``etl_orders_spark.worker_daemon``,
  with ``spark.executorEnv.PYTHONPATH`` naming the package's directory
  so it imports from any cwd: each Arrow-UDF task paid ~0.25 Python
  CPU-s re-reading pyspark.zip (see that module); 2.2 -> 0.4 CPU-s
  per corpus warm pass.
- ``spark.driver.defaultJavaOptions`` = ``JIT_OPTIONS``, two parts.
  ``defaultJavaOptions`` so a caller's ``--driver-java-options`` adds
  to these flags.

  - Tier4 thresholds at 4x the JDK 17 defaults: C2 compiled code that
    runs a few times in a short-lived JVM; compiler-thread CPU ~9 ->
    ~5 s per pass.
  - ``-XX:CompilerDirectivesFile`` = ``jit_directives.json`` (next to
    this module; its path must hold no whitespace, because Spark splits
    the option string on spaces). It keeps C2 off code that parses SQL
    and turns plans into classes and tasks, not code rows flow through:
    Janino (``org/codehaus``), the two ASM copies (xbean's for the
    closure cleaner, the JDK's for lambda spinning) and ANTLR. Those
    methods stop at tier 1 (C1, no profiling). Janino-generated classes,
    ``UnsafeRow``/``UTF8String``, the CSV and Parquet readers and
    writers, the shuffle, serialization and py4j keep C2. In a compile
    log of one corpus run the cold pass's C2 time fell from 25.5 to
    17.0 s (Janino 8.3, ASM 1.9, ANTLR 0.7 -> 0) and setup's from 8.0
    to 4.6 s.

Together the first three took perfbench's corpus warm pass from 16.3
to 9.4 CPU-s (median of 10 alternating pairs, 4 cores); etl_load held.
The directives then took corpus ``cold_pass_cpu_s`` from 43.5 to 36.3
(median of 12 alternating pairs, each won by the change) and its warm
pass from 5.0 to 4.6; etl_load's cold pass went 11.3 -> 9.8 and its
warm pass 3.2 -> 2.9 (10 pairs). Adding ICU and ``java/io/Object*``,
which also run per task or per row, cut corpus cold as much but left
etl_load's warm pass at 3.2 -> 3.4 (8 pairs), so they stay on C2. C1
only (``-XX:TieredStopAtLevel=1``) cuts corpus cold further but makes
etl_load's warm pass ~1.6x dearer, and the directives without the 4x
thresholds were worse on both workloads, so both parts stay.

``BROADCAST_THRESHOLD`` (64 MB) is runtime-settable but stays at
launch: the pin runs on every registry build and would undo callers
that set the threshold around builds (tests forcing a sort-merge join,
``tools/probe_r11_staged_knee.py``, the ``registry_plans`` fixture). A
bare session keeps Spark's 10 MB.

Deleted because they equal Spark 4.1.2's defaults (``SET`` on a bare
session reads ``true``): ``spark.sql.adaptive.enabled``,
``adaptive.coalescePartitions.enabled`` and
``adaptive.skewJoin.enabled``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the directory that holds the package, for the Python worker daemon
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# HotSpot directives that keep C2 off Spark's code generators (module docstring)
JIT_DIRECTIVES = os.path.join(PACKAGE_ROOT, "etl_orders_spark", "jit_directives.json")

# 4x JDK 17's Tier4 invocation, minimum-invocation and compile
# thresholds, plus the directives file
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400"
    " -XX:Tier4CompileThreshold=60000"
    f" -XX:+UnlockDiagnosticVMOptions -XX:CompilerDirectivesFile={JIT_DIRECTIVES}"
)

# the engine's broadcast-join threshold, set at launch only (module docstring)
BROADCAST_THRESHOLD = str(64 * 1024 * 1024)

RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def shuffle_partitions(spark: SparkSession) -> str:
    """The one shuffle-partition rule: ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    when set, else the session's own parallelism (its core count in
    local mode), so the launch and every later pin agree.

    A default-conf session carries 200, far too many tasks at local
    test scales. Tracking cores keeps the c8/c32 scaling runs
    comparable at bench scale (sf0.1, <100 MB of parquet), where every
    shuffle is overhead-dominated and AQE coalesces small partitions
    anyway. On a real cluster size it from DATA instead: shuffled
    bytes / ~128-256 MB target partition, e.g.
    SPARK_GRAFT_SHUFFLE_PARTITIONS=4000 for a ~1 TB shuffle. Erring
    high is safe (AQE coalesces down)."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
        spark.sparkContext.defaultParallelism
    )


def get_spark(app_name: str = "etl_orders_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: ``local[cpus]`` (else
    ``SPARK_GRAFT_CPUS``, else 32) with the launch-only confs, then
    pinned. On a cluster the same call minus master/memory applies."""
    spark = (
        SparkSession.builder.master(f"local[{cpus or DEFAULT_CPUS}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.daemon.module", "etl_orders_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return pin_session_defaults(spark)


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime confs on ``spark``, whoever launched it
    (module docstring). Idempotent; every registry build calls it."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions(spark))
    return spark
