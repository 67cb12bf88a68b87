"""Shared fixtures: one session-scoped local SparkSession for the suite."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from landlensdb_spark.session import get_spark

    s = get_spark("landlensdb-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(group, fn) -> (fn(), n)``: run ``fn`` under the job group
    ``group`` and count the Spark jobs it started."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
