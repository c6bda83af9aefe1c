from __future__ import annotations

import os

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
