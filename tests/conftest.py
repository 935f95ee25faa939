from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from peskas_timor_data_pipeline_spark.session import get_spark

    # The factory's 24g default heap exceeds a 16 GB host: over a whole
    # suite run the JVM grows until the kernel OOM-kills it, and every
    # later Spark test fails. The test tables are megabytes.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    spark = get_spark(app_name="pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
