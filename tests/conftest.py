"""Shared test fixtures: one session-scoped SparkSession for all tests,
and a per-module drop of the data each module leaves cached in it."""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from genetics_spark_coloc_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    session = get_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield session


@pytest.fixture(scope="module", autouse=True)
def _drop_cached_data():
    """Drop every cached table and persisted RDD a test module leaves
    behind, so the shared session's heap and GC cost do not grow with
    each module that caches without unpersisting."""
    yield
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    SparkSession.builder.getOrCreate().catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
