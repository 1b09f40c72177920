"""``Warehouse.read``: the schema comes from the part-file footer Spark
wrote, with no schema-inference job, and equals what Spark would infer."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest

from walmart_project_etl_spark.sources.catalog import Warehouse

SCHEMA = ("amount decimal(12,2), day date, at timestamp, flag boolean, "
          "n bigint, name string, gone string")
ROWS = [
    (Decimal("12.34"), dt.date(2012, 1, 2), dt.datetime(2012, 1, 2, 3, 4, 5),
     True, 2**40, "a", None),
    (None, None, None, None, None, None, None),
]


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    w = Warehouse(spark, str(tmp_path_factory.mktemp("wh_read")))
    df = spark.createDataFrame(ROWS, SCHEMA)
    w.write("ods", "typed", df)
    w.write("ods", "emptied", df)
    w.truncate("ods", "emptied")
    # partition subdirectories, no top-level part file: Spark infers
    w.write("ods", "partitioned", df, partition_by=["flag"])
    return w


@pytest.mark.parametrize("table", ["typed", "emptied", "partitioned"])
def test_read_schema_equals_spark_inference(spark, wh, table):
    assert wh.read("ods", table).schema == \
        spark.read.parquet(wh.path("ods", table)).schema


def test_read_returns_the_rows(spark, wh):
    assert sorted(wh.read("ods", "typed").collect(), key=str) == \
        sorted(spark.createDataFrame(ROWS, SCHEMA).collect(), key=str)
    assert wh.read("ods", "emptied").count() == 0


@pytest.mark.parametrize("table", ["typed", "emptied"])
def test_read_submits_no_job(spark, wh, table):
    before = _job_ids(spark)
    wh.read("ods", table)
    assert _job_ids(spark) == before


def test_read_without_top_level_part_file_fails_like_spark(spark, wh):
    empty = wh.path("stg", "no_parts")
    os.makedirs(empty)
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(empty)
    with pytest.raises(Exception) as ours:
        wh.read("stg", "no_parts")
    assert type(ours.value) is type(spark_err.value)
