from __future__ import annotations

import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sierradb_spark.session import get_spark

    s = get_spark(app_name="sierradb-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_started(spark):
    """``jobs_started(fn)`` calls ``fn`` under a fresh job group and
    returns its result and the number of Spark jobs it started."""

    def run(fn):
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        keys = ("spark.jobGroup.id", "spark.job.description")
        old = [sc.getLocalProperty(k) for k in keys]
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            for k, v in zip(keys, old):
                sc.setLocalProperty(k, v)
        # The status store is fed by the asynchronous listener bus: drain it.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Name the slow tier when the default ``-m "not slow"`` (pytest.ini)
    deselected tests, so a green default run is not read as the full
    suite."""
    deselected = len(terminalreporter.stats.get("deselected", ()))
    if deselected and config.option.markexpr == "not slow":
        terminalreporter.write_line(
            f"{deselected} slow-tier tests deselected; full suite: "
            'python -m pytest tests/ -q -m "slow or not slow"'
        )
