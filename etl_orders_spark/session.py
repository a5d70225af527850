"""SparkSession factory with scale-aware defaults.

The reference runs one pandas task at a time under Airflow's
SequentialExecutor (reference: airflow.cfg:45); here a single lazy
SparkSession replaces the whole DAG and the executor tier scales out.
Every config below is chosen for correctness-at-scale first:

- AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting, and dynamic broadcast — the knobs that keep a fixed plan
  viable when the data is 1000x bigger than the dev sample.
- shuffle.partitions sized to the local core count for tests; on a
  real cluster this would be ~2-3x total executor cores (AQE coalesces
  down, so erring high is safe).
- session timezone pinned to UTC so timestamp semantics are stable
  across driver, executors, and external oracles.

Three more settings keep a warm query from paying compile and worker
set-up work again. They are fixed at launch, so they apply only to
sessions ``get_spark`` launches: ``pin_session_defaults`` cannot set
them on a session someone else started (the verification driver's),
and a session that already runs keeps what it was launched with.
Numbers are per warm pass of ``perfbench/run.py``'s corpus workload
(4 cores; medians of 23 passes without the settings, 28 with), where
executor tasks ran only ~1.7 of 15.5 CPU-s:

- ``spark.sql.codegen.cache.maxEntries=1000``: the cold pass generates
  ~155 classes and Spark's default cache holds 100, so each warm pass
  compiled 56 of them again with Janino; with the setting, 5.
- ``spark.python.daemon.module`` = ``etl_orders_spark.worker_daemon``:
  every Arrow-UDF task paid ~0.25 Python CPU-s whatever its rows,
  almost all of it re-reading pyspark.zip's directory (see that
  module). Python workers went 2.2 -> 0.4 CPU-s per pass, and a
  trivial ``mapInPandas`` task 0.24 -> 0.05 CPU-s.
  ``spark.executorEnv.PYTHONPATH`` names the directory that holds the
  package, so the daemon imports from any working directory.
- ``spark.driver.defaultJavaOptions``: HotSpot's C2 thresholds at 4x
  the JDK 17 defaults, for a short-lived local JVM whose compiler
  threads took ~9 CPU-s per pass, mostly C2 compiling code that runs a
  few times; hot loops still reach C2 through back-edge counters.
  Compiler-thread CPU went ~9 -> ~5 s per pass, together with the
  smaller number of fresh classes. ``defaultJavaOptions``, not
  ``extraJavaOptions``, so a caller's ``--driver-java-options`` adds
  to these flags instead of replacing them.

Together they took the corpus warm pass from 16.3 to 9.4 CPU-s (median
of 10 alternating run pairs, lower in all 10); the etl_load control's
warm pass held (4.52 vs 4.40 CPU-s, 8 pairs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the directory that holds the package, for the Python worker daemon
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 4x JDK 17's Tier4 invocation, minimum-invocation and compile thresholds
C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400"
    " -XX:Tier4CompileThreshold=60000"
)


def shuffle_partitions(cpus: str | int | None = None) -> str:
    """The one shuffle-partition rule, shared by ``get_spark`` and
    ``pin_session_defaults``: ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` when
    set, else the core count (``cpus``, else ``SPARK_GRAFT_CPUS``).

    Tracking cores keeps the c8/c32 scaling runs comparable at bench
    scale (sf0.1, <100 MB of parquet), where every shuffle is
    overhead-dominated and AQE coalesces small partitions anyway. On a
    real cluster size it from DATA instead: shuffled bytes / ~128-256
    MB target partition, e.g. SPARK_GRAFT_SHUFFLE_PARTITIONS=4000 for
    a ~1 TB shuffle. Erring high is safe (AQE coalesces down)."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(cpus or DEFAULT_CPUS)


def get_spark(app_name: str = "etl_orders_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode for tests; the same config block is what we'd submit to a
    1000-executor cluster minus master/memory (cluster managers own those).
    """
    n = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark
        # cannot read that into TimestampType — read as long, convert in
        # load_table (sources/readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # launch-time only: see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.daemon.module", "etl_orders_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.defaultJavaOptions", C2_THRESHOLDS)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the runtime-mutable engine defaults to an externally created
    session (e.g. the verification driver's). Only touches confs that are
    settable after startup: the codegen cache size, the worker daemon
    and the C2 thresholds are fixed at launch, so such a session runs
    without them (module docstring)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # a default-conf session carries 200 shuffle partitions — far too
    # many tasks for local test scales (AQE coalesces, but task-launch
    # overhead remains); arrow speeds any toPandas the caller does
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions())
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
