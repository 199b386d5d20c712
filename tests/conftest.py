from __future__ import annotations

import os

import pytest

from b2b_data_pipeline_indiamart_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("b2b-pipeline-tests")
    yield spark
    # stop streams and the state-store maintenance thread first: left
    # scheduled, it fires after spark.stop() and logs a
    # "SparkEnv not active" stack trace
    for query in spark.streams.active:
        query.stop()
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
