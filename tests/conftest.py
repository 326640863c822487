from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

from fluent_bit_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# the fluent-bit source tree the reference goldens are read from: a
# checkout named "reference" beside this repository
REFERENCE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "needs_reference: reads the fluent-bit source tree at "
        "REFERENCE_DIR; skipped when that tree is absent (every test "
        "that uses the reference_dir fixture carries it)",
    )


def pytest_collection_modifyitems(items):
    for item in items:
        if "reference_dir" in getattr(item, "fixturenames", ()):
            item.add_marker("needs_reference")


def pytest_runtest_setup(item):
    if item.get_closest_marker("needs_reference") and not os.path.isdir(
        REFERENCE_DIR
    ):
        pytest.skip(f"fluent-bit reference tree not found at {REFERENCE_DIR}")


@contextmanager
def job_group(spark, group: str):
    """Run the Spark jobs started inside the block under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def sql_executions(spark, group: str) -> list:
    """SQL executions that ran jobs of ``group``, from Spark's status
    store (the one the web UI shows; it works with the UI disabled)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    job_ids = {
        j.jobId() for j in seq(jsc.statusStore().jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    }
    store = spark._jsparkSession.sharedState().statusStore()
    return [
        e for e in seq(store.executionsList())
        if {int(k) for k in seq(e.jobs().keys().toSeq())} & job_ids
    ]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fbs-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def reference_dir() -> str:
    return REFERENCE_DIR


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Operators register persisted intermediates with cache.track();
    releasing after every test keeps the storage layer clean so
    cache-lifecycle assertions in one test aren't polluted by another."""
    yield
    from fluent_bit_spark import cache

    cache.release_all()
