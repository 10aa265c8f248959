from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from climate_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdps-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL



@pytest.fixture
def spark_jobs_of(spark):
    """Callable(fn) → (fn(), number of Spark jobs without a job group
    started while fn ran), read from the status tracker after the
    listener bus has delivered every pending event. Job ids only grow,
    so the count holds after the store has evicted old jobs."""
    sc = spark.sparkContext

    def newest() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    def run(fn):
        before = newest()
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sum(1 for j in sc.statusTracker().getJobIdsForGroup(None)
                        if j > before)

    return run
