import contextlib
import itertools
import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: spark-submit / subprocess tests (minutes, not seconds)")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("stream_lib_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_job_groups = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """Context manager yielding a list that, on exit, holds the ids of
    the Spark jobs its body started (the body runs under a fresh job
    group).  The status tracker learns of jobs through the listener bus,
    so the exit waits for the bus to drain first."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def jobs_started():
        group = f"spark-jobs-{next(_job_groups)}"
        jobs: list[int] = []
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            yield jobs
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return jobs_started


@pytest.fixture
def no_spark_jobs(spark_jobs):
    """Context manager asserting its body starts no Spark job."""

    @contextlib.contextmanager
    def guard():
        with spark_jobs() as jobs:
            yield
        assert jobs == [], f"expected no Spark job, started {jobs}"

    return guard
