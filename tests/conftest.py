from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep unit tests light
# the session's 24g default heap lets the JVM grow past what a shared
# host tolerates under the threaded race tests
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


@pytest.fixture(scope="session")
def spark():
    from wcdimportbot_spark.session import get_spark

    spark = get_spark(app_name="wcdimportbot-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
