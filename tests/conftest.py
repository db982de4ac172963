from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tansu_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tansu-spark-tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def no_leaked_streaming_queries():
    """Fail a test that leaves a streaming query running (after stopping
    it): a leaked query keeps running micro-batches and slows every later
    test in the process. Starts no SparkContext of its own."""
    yield
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is None:
        return
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    leaked = spark.streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(f"streaming queries left running: {[q.name for q in leaked]}")
