"""Shared fixtures: one SparkSession per test session (JVM start ≈ 10 s)."""

from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from kinesumer_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    # get_spark's default cores: $SPARK_GRAFT_CPUS, else every local core
    s = get_spark(
        app_name="kinesumer_spark_tests",
        driver_memory="8g",
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()
