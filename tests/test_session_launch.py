"""Sessions that ``get_spark`` launches keep their compiled work: the
zip guard of the Python worker daemon, the codegen cache size, the
HotSpot compiler directives, and the launch-time settings of a session
started outside the repo, whose runtime confs are pinned from the start
and keep its own core count."""

from __future__ import annotations

import importlib
import json
import os
import re
import subprocess
import sys
import zipfile
import zipimport

from bench import janino_compiles
from etl_orders_spark import worker_daemon
from etl_orders_spark.session import JIT_DIRECTIVES, JIT_OPTIONS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zip_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zip_guard_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored at teardown: the guard swaps a class attribute
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("zip_guard_a").VALUE == 1
        monkeypatch.setattr(zipimport, "_read_directory", counted)
        worker_daemon.guard_zip_rereads()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zip_guard_a": "VALUE = 1\n", "zip_guard_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads
        assert importlib.import_module("zip_guard_b").VALUE == 2
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n
    finally:
        for name in ("zip_guard_a", "zip_guard_b"):
            sys.modules.pop(name, None)


def test_codegen_cache_outlives_a_lane_sized_burst(spark):
    # more distinct generated classes than Spark's default cache holds
    queries = [spark.range(10).selectExpr(f"id + {i} AS v") for i in range(120)]
    for df in queries:
        df.collect()
    before = janino_compiles(spark)
    assert [r.v for r in queries[0].collect()] == list(range(10))
    assert janino_compiles(spark) - before == 0


def _printed_directives(flags: list[str]) -> list[dict]:
    """``java FLAGS -XX:+CompilerDirectivesPrint -version``, parsed into
    one dict per directive: its patterns, whether it is the default one,
    and the text of its c1 and c2 blocks."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    out = subprocess.run(
        [java, *flags, "-XX:+UnlockDiagnosticVMOptions", "-XX:+CompilerDirectivesPrint", "-version"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    directives = []
    for block in out.stdout.split("Directive:")[1:]:
        c1, c2 = block.split("c1 directives:")[1].split("c2 directives:")
        directives.append({
            "default": block.startswith(" (default)"),
            "match": re.search(r"matching: (.*)", block).group(1).split(", "),
            "c1": c1,
            "c2": c2,
        })
    return directives


# Janino, the two ASM copies and ANTLR
C2_EXCLUDED = [
    "org/codehaus/*.*",
    "org/apache/xbean/asm9/*.*",
    "jdk/internal/org/objectweb/*.*",
    "org/antlr/*.*",
]


def test_jit_directives_keep_c2_off_the_code_generators_only():
    # Spark splits defaultJavaOptions on spaces
    assert not re.search(r"\s", JIT_DIRECTIVES)
    # HotSpot takes some mistyped keys without a word, and a mistyped
    # pattern matches nothing: check what the JVM read, not the file
    directives = _printed_directives(JIT_OPTIONS.split())
    (excluded,) = [d for d in directives if not d["default"]]
    assert sorted(excluded["match"]) == sorted(C2_EXCLUDED)
    assert "Enable:true Exclude:true" in excluded["c2"]
    # C1 falls through to the default directive and still compiles them
    assert "Enable:false" in excluded["c1"]
    (default,) = [d for d in directives if d["default"]]
    (stock,) = _printed_directives([])
    assert default == stock and default["match"] == ["*.*"]
    assert "Exclude:false" in default["c2"]


LAUNCH = """
import json, sys
sys.path.insert(0, sys.argv[1])
from etl_orders_spark.session import get_spark, pin_session_defaults

spark = get_spark("launch_check", cpus=2)
ordering = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
pin_session_defaults(spark)

def double(batches):
    for pdf in batches:
        yield pdf.assign(v=pdf.id * 2)

rows = spark.range(6, numPartitions=2).mapInPandas(double, "id long, v long").collect()
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print(json.dumps({
    "rows": sorted([r.id, r.v] for r in rows),
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
    "jvm_args": list(args),
    "ordering": ordering,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def test_a_session_launched_outside_the_repo_runs_python_workers(tmp_path):
    drop = ("PYTHONPATH", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
    env = {k: v for k, v in os.environ.items() if k not in drop}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # the pin follows the session's 2 cores, not this env var
    env["SPARK_GRAFT_CPUS"] = "4"
    out = subprocess.run(
        [sys.executable, "-c", LAUNCH, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rows"] == [[i, 2 * i] for i in range(6)]
    assert got["daemon"] == "etl_orders_spark.worker_daemon"
    assert set(JIT_OPTIONS.split()) <= set(got["jvm_args"])
    assert got["ordering"] == "true"
    assert got["shuffle_partitions"] == "2"
