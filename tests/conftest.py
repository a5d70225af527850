from __future__ import annotations

import pytest

from etl_orders_spark.session import get_spark
from etl_orders_spark.sql import plan_text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_under(spark):
    """``jobs_under(group, call)`` runs ``call`` under Spark job group
    ``group`` and returns (its result, the jobs it ran)."""
    sc = spark.sparkContext

    def run(group: str, call):
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


class RegistryPlans(dict):
    """name -> (output fields, executed-plan string), plus the session
    conf read after one pin and before the build (``conf_before``) and
    again after it (``conf_after``)."""


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Every registered lane built once per session, for the
    registry-wide plan and schema tests. Earlier tests may leave cached
    relations (operator-internal .cache()/localCheckpoint) whose
    InMemoryRelation stats flip broadcast decisions, and may touch the
    broadcast threshold — both are reset before the build so the plans
    are deterministic, and the threshold is restored after it. The
    plan string is ``sql.plan_text``: a stage cache is filled while the
    lane builds, and a filled cache prints its already-run plan twice
    (final and initial) under every scan of it, so an operator inside
    it would count once per copy."""
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.session import pin_session_defaults

    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.catalog.clearCache()
    spark.conf.set(key, "10485760")
    built = RegistryPlans()
    pin_session_defaults(spark)
    built.conf_before = dict(spark.conf.getAll)
    try:
        for name, builder in query_map().items():
            df = builder(spark, sf_dir)
            plan = plan_text(df)
            built[name] = (df.schema.fields, plan)
        built.conf_after = dict(spark.conf.getAll)
    finally:
        spark.conf.set(key, threshold)
    yield built
