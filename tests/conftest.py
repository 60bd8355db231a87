import os

import pytest

from tap_airbyte_wrapper_spark.cli import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    yield build_spark("local[4]", {"spark.sql.shuffle.partitions": "8",
                                   "spark.ui.enabled": "false",
                                   "spark.driver.memory": "4g"})


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
