"""Shared Spark session for the test suite (one JVM for all tests)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from walmart_project_etl_spark.session import get_spark

    s = get_spark("wpe-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _leak_census(request):
    """After every test: no cached plan may outlive the test that made
    it. A pin that an engine call forgot to release (or a ``.cache()``
    nobody owns) would give every later test and query in the session a
    warm cache. Checks only a session that is already running — it
    never starts one — and clears the cache either way, so one leak
    fails only its own test."""
    yield
    from pyspark.sql import SparkSession

    from walmart_project_etl_spark.operators.util import leak_census

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    n = leak_census(spark)
    assert not n, \
        f"{request.node.nodeid} left {n} cached plan(s) in the CacheManager"
