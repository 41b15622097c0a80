"""Shared fixtures: one session-scoped local SparkSession for the suite."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newscrawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # The suite's live data is small.  Under the package's 16g driver
    # default on a 15 GB / 4-vCPU host, ParallelGC grew the test JVM to
    # 13-15 GB RSS and the kernel OOM-killed it mid-suite; at 6g the
    # whole suite peaks at ~6.4 GB and runs no slower.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="newscrawler_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
