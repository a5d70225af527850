"""Unit contract of the materialize-once helpers: cache_stage's
fill-on-miss / warm reuse / invalidation / external-clear and
session-restart recovery, fan_out_narrow's two untouched fallbacks,
the allowlist of direct checkpoint, cache and persist sites, the
scan audit's executed-scan counter on frames with known scan counts,
and the staged model tables (a warm DSIR or Kneser-Ney rebuild runs
only its scoring query)."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys

import pytest

from etl_orders_spark.operators.materialize import _STAGE_CACHE, cache_stage, fan_out_narrow


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def _is_filled(spark, df) -> bool:
    """The frame's cache holds its column buffers (an action filled it)."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_cache_stage_warm_reuse_and_bounded_eviction(spark, jobs_under):
    key = "test.cache_stage.unit"
    _STAGE_CACHE.pop(key, None)

    # a miss persists AND fills: jobs run inside the call, and the
    # frame is cached before any action on it. A shuffle-free frame
    # fills in exactly one job: the fill adds no exchange of its own
    a, jobs = jobs_under(
        "test.cache_stage.miss",
        lambda: cache_stage(spark.range(10).selectExpr("id * 2 AS x"), key),
    )
    assert jobs == 1
    assert _is_cached(a) and _is_filled(spark, a)
    assert a.count() == 10

    # identical plan -> the SAME cached frame comes back (warm reuse),
    # and no job runs
    b, jobs = jobs_under(
        "test.cache_stage.hit",
        lambda: cache_stage(spark.range(10).selectExpr("id * 2 AS x"), key),
    )
    assert b is a and jobs == 0

    # a SECOND distinct plan coexists (two slots: interleaved builds
    # over two inputs must not evict each other's cache)
    c = cache_stage(spark.range(5).selectExpr("id * 3 AS x"), key)
    assert c is not a
    assert c.count() == 5 and _is_cached(c) and _is_cached(a)
    assert cache_stage(spark.range(10).selectExpr("id * 2 AS x"), key) is a

    # a THIRD distinct plan evicts the least-recently-used entry —
    # which is c after a's warm hit refreshed its recency
    d = cache_stage(spark.range(3).selectExpr("id * 5 AS x"), key)
    assert d.count() == 3 and _is_cached(d)
    assert _is_cached(a) and not _is_cached(c)

    _STAGE_CACHE.pop(key, None)


def test_cache_stage_recovers_from_external_clear(spark):
    """catalog.clearCache() drops the blocks but leaves the Python
    handle; the next call must re-persist instead of returning a
    frame that silently recomputes per consumer."""
    key = "test.cache_stage.cleared"
    _STAGE_CACHE.pop(key, None)

    a = cache_stage(spark.range(7).selectExpr("id AS x"), key)
    a.count()
    spark.catalog.clearCache()
    assert not _is_cached(a)
    b = cache_stage(spark.range(7).selectExpr("id AS x"), key)
    assert _is_cached(b)

    spark.catalog.clearCache()
    _STAGE_CACHE.pop(key, None)


RESTART = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from etl_orders_spark.operators.materialize import cache_stage

def session():
    return SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()

spark = session()
a = cache_stage(spark.range(5).selectExpr("id * 2 AS x"), "restart")
spark.stop()
spark = session()
b = cache_stage(spark.range(5).selectExpr("id * 2 AS x"), "restart")
print(b is a, b.count())
spark.stop()
"""


def test_cache_stage_refills_after_a_session_restart(tmp_path):
    """A stopped session's handle still reports a storage level and
    matches the rebuilt plan; it must refill, not come back as a hit
    that fails on its first action. Needs its own process: the test
    session cannot be stopped."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", RESTART, repo],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "False 5"


def test_fan_out_narrow_leaves_a_streaming_frame_untouched(spark):
    # a streaming plan has no RDD to count partitions on
    stream = spark.readStream.format("rate").load()
    assert fan_out_narrow(stream, "test.fan_out.stream") is stream


def test_fan_out_narrow_leaves_unstatable_files_untouched(spark, tmp_path):
    # one narrow file, listed at read time and gone before the size gate
    path = str(tmp_path / "narrow")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    assert df.rdd.getNumPartitions() * 2 < spark.sparkContext.defaultParallelism
    assert fan_out_narrow(df, "test.fan_out.gone") is df


# Every direct localCheckpoint, cache or persist in the package, by
# (module, enclosing function), with the one reason a keyed cache_stage
# does not fit there. Anything else with several consumers goes through
# cache_stage.
_LOOP = "loop lineage cut"  # frame rebuilt or read inside a Python loop
_STREAM = "streaming micro-batch"  # same plan, new rows every batch
_FILES = "call-time file check"  # must see the files as they are now
_SMALL = "materialize_small"
_FLOAT = "float sum order"  # a cached plan runs uncoalesced: float sums reorder
_PRIMITIVE = "the staging primitive"  # cache_stage's own persist
_CALLER = "caller-owned lifetime"  # the caller unpersists it
_CHECKPOINT_SITES = {
    ("operators.graph", "hyperanf_reach"): _LOOP,
    ("operators.graph", "connected_components"): _LOOP,
    ("operators.materialize", "cache_stage"): _PRIMITIVE,
    ("operators.materialize", "materialize_small"): _SMALL,
    ("operators.similarity", "ivf_topk"): _FLOAT,
    ("operators.rank", "two_pass_dense_rank"): _LOOP,  # a suffix-doubling round
    ("plans.curation_queries", "logreg_quality_train_docs"): _LOOP,
    ("plans.graph_queries", "_khop_report"): _LOOP,
    ("plans.text_queries", "_symbol_rows"): _LOOP,  # BPE merge rounds' seed
    ("plans.text_queries", "_merge_top_pair"): _LOOP,
    ("plans.text_queries", "text_kmeans_hashed_docs"): _LOOP,
    ("plans.time_queries", "pagerank_event_types"): _LOOP,
    ("plans.vector_queries", "kcenter_coreset_embeddings"): _LOOP,
    ("plans.vector_queries", "kmeans_embeddings"): _LOOP,
    ("plans.vector_queries", "_centered_gram"): _LOOP,  # the power iteration's matrix
    ("plans.vector_queries", "pca_power_iteration_embeddings"): _LOOP,
    ("plans.vector_queries", "_power_iterate"): _LOOP,
    ("plans.vector_queries", "pca_deflation_top2_embeddings"): _LOOP,
    ("sources.readers", "_quarantine_split"): _CALLER,
    ("sources.resilient", "read_parquet_resilient"): _FILES,
    ("streaming.drift", "psi_from_histogram"): _STREAM,
    ("streaming.sinks", "upsert_parquet_sink.apply_batch"): _STREAM,
}


def _checkpoint_sites() -> dict[tuple[str, str], int]:
    """(module, dotted enclosing function) -> number of direct
    ``.localCheckpoint(``, ``.cache(`` and ``.persist(`` calls, over the
    whole package source."""
    root = pathlib.Path(__file__).resolve().parent.parent / "etl_orders_spark"
    found: dict[tuple[str, str], int] = {}

    def walk(node, module: str, scope: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, module, [*scope, child.name])
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("localCheckpoint", "cache", "persist")
            ):
                site = (module, ".".join(scope) or "<module>")
                found[site] = found.get(site, 0) + 1
            walk(child, module, scope)

    for path in sorted(root.rglob("*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        walk(ast.parse(path.read_text()), module, [])
    return found


def test_every_checkpoint_site_is_allowlisted():
    """A multi-consumer frame goes through cache_stage; a direct
    localCheckpoint, cache or persist is allowed only where its
    (module, function) is listed above with a reason. A new unlisted
    site fails here, and so does a listed entry whose site is gone."""
    found = _checkpoint_sites()
    unlisted = sorted(set(found) - set(_CHECKPOINT_SITES))
    assert not unlisted, f"materialize call outside the allowlist (use cache_stage): {unlisted}"
    stale = sorted(set(_CHECKPOINT_SITES) - set(found))
    assert not stale, f"allowlist entries with no materialize call left: {stale}"


@pytest.fixture
def scans(spark):
    """Executed scans per table of a noop write of ``build()``. The
    frame is built inside the counter, so a builder's stage fills
    count too; the cache is cleared first so no earlier test's cached
    relation serves a read."""
    from tools.scan_audit import scan_counts

    def count(build):
        spark.catalog.clearCache()
        return scan_counts(spark, lambda: build().write.format("noop").mode("overwrite").save())

    return count


def test_scan_counts_union_of_two_filtered_scans(spark, tmp_path, scans):
    path = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(path)
    t = spark.read.parquet(path)
    counts = scans(lambda: t.where("id < 10").unionByName(t.where("id > 90")))
    # one table, read twice (its key is abbreviated: Spark shortens a
    # location longer than spark.sql.maxMetadataStringLength)
    assert list(counts.values()) == [2]


def test_scan_counts_a_staged_frame_fills_once(spark, tmp_path, scans):
    path = str(tmp_path / "s.parquet")
    spark.range(100).selectExpr("id % 7 AS k", "id").write.parquet(path)

    def build():
        staged = cache_stage(
            spark.read.parquet(path).groupBy("k").count(), "test_scan_counts.staged"
        )
        return staged.where("k < 3").unionByName(staged.where("k > 4"))

    assert list(scans(build).values()) == [1]


def test_scan_counts_flagship_reads_each_table_once(spark, sf_dir, scans):
    from etl_orders_spark.plans.registry import query_map

    counts = scans(lambda: query_map()["flagship_enriched_lineitems"](spark, sf_dir))
    assert counts == {
        "lineitem.parquet": 1,
        "orders.parquet": 1,
        "customer.parquet": 1,
        "part.parquet": 1,
    }


def test_scan_counts_kneser_ney_reads_documents_twice(spark, sf_dir, scans):
    """The stage fill plus the deliberate vocabulary pass, spread over
    the builder's fill executions and the final write."""
    from etl_orders_spark.plans.registry import query_map

    counts = scans(lambda: query_map()["kneser_ney_trigram_docs"](spark, sf_dir))
    assert counts == {"documents.parquet": 2}


@pytest.mark.parametrize("lane", ["customer_revenue_deciles", "pareto_customer_revenue"])
def test_scan_counts_ranked_revenue_lanes_read_orders_once(spark, sf_dir, scans, lane):
    """The grand total (count or revenue sum) comes off the ranked
    frame, which reads two_pass_rank's stage, not a second orders
    aggregate."""
    from etl_orders_spark.plans.registry import query_map

    assert scans(lambda: query_map()[lane](spark, sf_dir)) == {"orders.parquet": 1}


@pytest.fixture
def stage_hits(monkeypatch):
    """Keys of the ``cache_stage`` calls that returned a live handle
    (a hit), recorded while the test runs. The plan modules import
    ``cache_stage`` inside their builders, so the patched one is seen."""
    import etl_orders_spark.operators.materialize as M

    hits: list[str] = []
    real = M.cache_stage

    def recording(df, key):
        prior = list(M._STAGE_CACHE.get(key, ()))
        out = real(df, key)
        if any(out is h for h in prior):
            hits.append(key)
        return out

    monkeypatch.setattr(M, "cache_stage", recording)
    return hits


@pytest.mark.parametrize("lane", ["dsir_importance_resample", "kneser_ney_trigram_docs"])
def test_warm_rebuild_runs_only_the_scoring_query(spark, sf_dir, stage_hits, jobs_under, lane):
    """The model table is a stage: a warm rebuild runs no builder job,
    and its collect() runs only the scoring query. After clearCache()
    every stage is cold again: the rebuild hits none and fills them."""
    from etl_orders_spark.plans.registry import query_map

    builder = query_map()[lane]
    spark.catalog.clearCache()
    builder(spark, sf_dir).collect()
    stage_hits.clear()

    df, build_jobs = jobs_under(f"test.warm.{lane}.build", lambda: builder(spark, sf_dir))
    _, collect_jobs = jobs_under(f"test.warm.{lane}.collect", df.collect)
    assert build_jobs == 0 and stage_hits
    assert collect_jobs <= 3

    spark.catalog.clearCache()
    stage_hits.clear()
    _, build_jobs = jobs_under(f"test.cleared.{lane}.build", lambda: builder(spark, sf_dir))
    assert stage_hits == [] and build_jobs > 0
    spark.catalog.clearCache()


def test_const_rows_values_and_sameresult_stability(spark):
    """const_rows must (a) produce the same rows/schema as the
    createDataFrame it replaces and (b) build sameResult-STABLE plans
    across invocations — the property createDataFrame lacks (its
    LocalRelation rows compare by reference), which silently defeats
    every keyed cache_stage downstream."""
    from etl_orders_spark.operators.materialize import const_rows

    rows = [("a", 1), ("b", 2), ("c", 3)]
    fields = [("name", "string"), ("n", "long")]
    c1 = const_rows(spark, rows, fields)
    c2 = const_rows(spark, rows, fields)
    ref = spark.createDataFrame(rows, "name string, n long")
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, ref.collect()))
    assert c1.schema == ref.schema

    def same(a, b):
        return (
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )

    assert same(c1, c2)  # the property the keyed caches rely on
    assert not same(
        spark.createDataFrame(rows, "name string, n long"),
        spark.createDataFrame(rows, "name string, n long"),
    )  # documents WHY const_rows exists; if this ever starts passing,
    #    createDataFrame became canonicalizable and const_rows can go


def test_const_rows_rejects_empty_rows(spark):
    """An empty ``rows`` list raises a clear ValueError up front
    instead of a later analysis error on the empty array."""
    from etl_orders_spark.operators.materialize import const_rows

    with pytest.raises(ValueError, match="rows is empty"):
        const_rows(spark, [], [("name", "string")])
