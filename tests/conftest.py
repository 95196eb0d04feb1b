from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from servihabitat_etl_spyke_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=min(8, os.cpu_count() or 8))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_started(spark):
    """``jobs_started(fn)`` calls ``fn()`` under a fresh job group and
    returns how many Spark jobs it started, read from the status tracker
    once the listener bus has delivered every event."""
    import itertools

    sc = spark.sparkContext
    groups = itertools.count()

    def count(fn) -> int:
        group = f"jobs-started-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
