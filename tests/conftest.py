import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from datalakehouse_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("datalakehouse_spark_tests", shuffle_partitions=8)
    # ship the package to executors up front: without this, a test that
    # runs a datalakehouse_spark import inside a UDF/mapInPandas closure
    # passes or fails depending on whether an earlier test happened to
    # call load_table first (order-dependent ModuleNotFoundError when
    # running a single file from outside the repo)
    from datalakehouse_spark.io import _ship_package

    _ship_package(s)
    yield s


@pytest.fixture(scope="session")
def last_job_id(spark):
    """() -> highest job id the status store has seen, whatever thread
    or job group ran it (listener bus drained first so the count is
    settled): a job-id window counts every Spark job a call ran."""
    jsc = spark.sparkContext._jsc.sc()

    def last():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    return last


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM
