from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

REFERENCE_DATA = "/root/reference/rust/tests/data"
TESTDATA_SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from delta_rs_spark.session import get_spark

    spark = get_spark("delta_rs_spark_tests")
    yield spark


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn's result, Spark jobs fn started), counted
    through a job group on the status tracker."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture()
def golden(request):
    """Path of a reference golden table (read-only fixture data)."""

    def _path(name: str) -> str:
        p = os.path.join(REFERENCE_DATA, name)
        if not os.path.isdir(p):
            pytest.skip(f"golden table {name} not available")
        return p

    return _path


@pytest.fixture()
def sf_dir() -> str:
    if not os.path.isdir(TESTDATA_SF):
        pytest.skip("testdata not available")
    return TESTDATA_SF
