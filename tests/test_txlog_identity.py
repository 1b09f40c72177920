"""IDENTITY COLUMNS on the transaction-log table
(``sources/txlog.py``: ``create(..., identity_col=)``): Delta's
``GENERATED ALWAYS AS IDENTITY`` — distributed assignment from a
high-water mark that advances in the same commit as the data, unique
(not dense) ids, ALWAYS semantics on create/append, merge accepting
table-assigned ids, and race-safe reassignment under optimistic
concurrency."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.sources.txlog import TxTable


def _src(spark, lo=0, hi=100, v=0.0):
    return spark.range(lo, hi).select(F.col("id").alias("nk"),
                                      F.lit(v).alias("v"))


def test_identity_as_merge_key_unique_and_marked(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "i"))
    t.create(_src(spark), "sk", n_files=3, identity_col="sk")
    ids = [r["sk"] for r in t.snapshot().select("sk").collect()]
    assert len(ids) == 100 and len(set(ids)) == 100
    nxt = t._state()[0]["identity"]["next"]
    assert nxt == max(ids) + 1
    # appends assign ABOVE the mark — no collision with existing ids
    t.append(_src(spark, 100, 150, v=2.0))
    ids2 = {r["sk"] for r in t.snapshot().select("sk").collect()}
    assert len(ids2) == 150
    assert min(ids2 - set(ids)) >= nxt


def test_identity_always_semantics(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "a"))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.create(_src(spark).withColumn("sk", F.lit(1)), "sk",
                 identity_col="sk")
    t.create(_src(spark), "sk", identity_col="sk")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(t.snapshot().limit(1))
    # a merge legitimately carries the ids the table assigned
    some = spark.createDataFrame(t.snapshot().limit(5).collect(),
                                 t.snapshot().schema) \
        .withColumn("v", F.lit(-5.0))
    t.merge_upsert(some)
    assert t.snapshot().where("v = -5.0").count() == 5
    assert t.snapshot().count() == 100


def test_identity_rename_and_concurrent_appends(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "c"))
    t.create(_src(spark, 0, 10), "sk", identity_col="sk")
    t.rename_column("sk", "surrogate")
    t.append(_src(spark, 200, 210, v=3.0))     # assignment follows rename
    assert t.snapshot().select("surrogate").distinct().count() == 20
    errs: list = []

    def add(lo):
        try:
            TxTable(spark, t.root).append(_src(spark, lo, lo + 20, v=1.0))
        except Exception as e:                  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=add, args=(a,)) for a in (300, 400)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    f = t.snapshot()
    assert f.count() == 60
    assert f.select("surrogate").distinct().count() == 60


def test_identity_mark_from_footers_runs_no_job(spark, tmp_path):
    """The identity high-water mark comes from the new files' footers:
    a create with an identity column submits no more Spark jobs than
    the same create without one, and the mark is max(id) + 1."""
    def job_ids() -> set[int]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return set(spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None))

    before = job_ids()
    TxTable(spark, str(tmp_path / "p")).create(_src(spark), "nk",
                                               n_files=3)
    mid = job_ids()
    t = TxTable(spark, str(tmp_path / "i"))
    t.create(_src(spark), "nk", n_files=3, identity_col="sk")
    assert len(job_ids() - mid) <= len(mid - before)
    ids = [r["sk"] for r in t.snapshot().select("sk").collect()]
    assert len(ids) == 100 and len(set(ids)) == 100
    assert t._state()[0]["identity"]["next"] == max(ids) + 1
