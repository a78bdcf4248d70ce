import os
import uuid

import pytest

from photon_ml_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # The suite's inputs are tiny (sf0.001/sf0.01): 4 shuffle partitions
    # instead of 32 cut task launches in each of its thousands of small
    # jobs, and nothing reads the UI. On a 4-core box this took the
    # full run from 1633 s to 1432 s with identical results.
    s = get_spark(
        app_name="photon-ml-spark-tests",
        master="local[*]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` → the number of Spark jobs ``fn()`` ran,
    read after the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
