from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# transformWithStateInPandas needs google.protobuf at runtime (driver AND
# Spark's Python workers). When no real protobuf is installed, route it to
# the unmodified protobuf runtime the image's Cloud SDK ships, via the
# shim package in tools/pbshim (which also relaxes the 6.32-vs-6.33
# minor-version check). PYTHONPATH (not just sys.path) so the worker
# processes forked by the JVM inherit it.
try:
    import google.protobuf  # noqa: F401
except ImportError:
    _SHIM = os.path.join(_REPO, "tools", "pbshim")
    if os.path.isdir(
        "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
    ):
        sys.path.insert(0, _SHIM)
        os.environ["PYTHONPATH"] = (
            _SHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fawac_cdc_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_spark("tests", cpus=cpus)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` in a job group of its own and
    returns how many Spark jobs it launched (statusTracker, after the
    listener bus has delivered every event)."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
