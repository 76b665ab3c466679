from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pmc_conversion_spark.session import get_spark
    s = get_spark("pytest", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


def jobs_run_by(spark, fn):
    """(Spark jobs ``fn()`` starts, counted through its job group,
    ``fn()``'s result)."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


@pytest.fixture()
def fixture_df(spark):
    from pmc_conversion_spark.queries.manifest import fixture_df as fdf
    return lambda rows, schema: fdf(spark, rows, schema)


SF_DIR = "/root/testdata/sf0.001"
