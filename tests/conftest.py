from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn()`` in a Spark job group of its own and
    returns ``(fn's result, the ids of the jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn):
        gid = f"test-jobs-{os.urandom(4).hex()}"
        sc.setJobGroup(gid, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sorted(sc.statusTracker().getJobIdsForGroup(gid))

    return run
