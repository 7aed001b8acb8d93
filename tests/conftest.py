from __future__ import annotations

import os
import sys

import pytest

# The checkout this file lives in, so the suite tests the code beside it.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from f1_realtime_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_WIDE = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    # The engine's 48g default heap lets the JVM grow past a small
    # host's memory before G1 collects (on a 15 GB, 4-core host the
    # full suite reached 14 GB RSS and was OOM-killed); the test data
    # needs a fraction of 4g.
    spark = get_spark(
        "tests", cpus=8, shuffle_partitions=8, extra_conf={"spark.driver.memory": "4g"}
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_wide_dir() -> str:
    """Ten times ``sf_dir``, for checks that come out empty at sf0.001."""
    return SF_WIDE


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for property tests (hypothesis manages examples;
    the session-scoped SparkSession is reused across them)."""
    return spark
