from __future__ import annotations

import pytest

from kda_flink_demo_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kda-spark-tests", cpus=8)
    spark.sparkContext.setLogLevel("WARN")
    yield spark
