"""COLUMN MAPPING on the transaction-log table
(``sources/txlog.py``: ``rename_column`` / ``drop_column``): Delta's
column-mapping semantics — metadata-only rename/drop at any table
size, physical-name indirection so old files stay readable AND
prunable, no resurrection of dropped data, and every consumer (CDF,
DV delete, restore, DML, z-order, streaming source) speaking the
version's logical names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.sources.txlog import TxTable


def _base_df(spark, n=100):
    return spark.range(n).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 10).cast("int").alias("grp"),
        (F.col("id") * 1.5).alias("val"),
        (F.col("id") % 3).cast("int").alias("part"))


@pytest.fixture()
def mapped(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "m"))
    t.create(_base_df(spark), "k", n_files=4, stats_cols=["grp"],
             change_feed=True, partition_by="part")
    return t


def test_rename_is_metadata_only_and_time_travels(spark, mapped):
    t = mapped
    files_before = sorted(t._state()[1])
    t.rename_column("val", "price")
    # O(1): the commit moved no data files
    assert sorted(t._state()[1]) == files_before
    snap = t.snapshot()
    assert snap.columns == ["k", "grp", "price", "part"]
    assert snap.agg(F.sum("price")).first()[0] == \
        sum(i * 1.5 for i in range(100))
    # each version reads under ITS OWN names
    old = t.snapshot(0)
    assert "val" in old.columns and "price" not in old.columns


def test_key_rename_keeps_merge_pruning(spark, mapped):
    t = mapped
    t.rename_column("k", "key_id")
    upd = spark.range(5).select(
        F.col("id").alias("key_id"), F.lit(99).cast("int").alias("grp"),
        F.lit(0.0).alias("val"), F.lit(0).cast("int").alias("part"))
    r = t.merge_upsert(upd)
    # kmin/kmax/bloom are name-independent: pruning survives the rename
    assert r["files_untouched"] > 0
    assert t.snapshot().where("grp = 99").count() == 5


def test_stats_and_partition_rename_keep_pruning(spark, mapped):
    t = mapped
    t.rename_column("grp", "category")
    t.rename_column("part", "bucket")
    # cstats/pval in PRE-rename files still prune via the mapping:
    # the pruned reads equal the unpruned filters exactly
    pruned = t.read_stats_range(2, 2, col="category")
    assert pruned.count() == t.snapshot().where("category = 2").count()
    p0 = t.read_partitions([0])
    assert p0.count() == t.snapshot().where("bucket = 0").count()
    # composed reader maps too
    w = t.read_where(partitions=[1], stats={"category": (3, 3)})
    assert w.count() == \
        t.snapshot().where("bucket = 1 and category = 3").count()


def test_partition_rename_then_readd_old_name_keeps_layout(spark, mapped):
    """New files stamp the partition column's PHYSICAL name in ``pby``
    even when a later column reuses the old logical name: after renaming
    ``part`` to ``bucket`` and adding a new ``part``, an append's files
    still match the current layout, so replace_where runs."""
    t = mapped
    t.rename_column("part", "bucket")
    t.add_columns({"part": "string"})
    t.append(_base_df(spark, 6).withColumnRenamed("part", "bucket")
             .withColumn("k", F.col("k") + 1000)
             .withColumn("part", F.lit("x")))
    assert {tuple(a["pby"]) for a in t._state()[1].values()} == {("part",)}
    n0 = t.snapshot().where("bucket = 0").count()
    out = t.replace_where(0, t.snapshot().where("bucket = 0"))
    assert out["files_removed"] > 0
    assert t.snapshot().where("bucket = 0").count() == n0


def test_drop_then_readd_never_resurrects(spark, mapped):
    t = mapped
    t.drop_column("val")
    assert "val" not in t.snapshot().columns
    # re-adding the same LOGICAL name maps to a fresh physical name:
    # the dropped data must not come back
    t.add_columns({"val": "double"})
    assert t.snapshot().where(F.col("val").isNotNull()).count() == 0
    # ... and mergeSchema re-adds get the same treatment
    t.drop_column("val")
    extra = spark.range(200, 203).select(
        F.col("id").alias("k"), F.lit(1).cast("int").alias("grp"),
        F.lit(0).cast("int").alias("part"), F.lit(7.5).alias("val"))
    t.merge_upsert(extra, merge_schema=True)
    s = t.snapshot()
    assert s.where("k >= 200 and val = 7.5").count() == 3
    assert s.where("k < 200 and val is not null").count() == 0
    # time travel still sees the original column where it existed
    assert t.snapshot(0).where("val is not null").count() == 100


def test_cdf_unions_across_renames(spark, mapped):
    t = mapped
    t.merge_upsert(_base_df(spark).where("k < 5")
                   .withColumn("val", F.lit(-1.0)))
    t.rename_column("val", "price")
    t.delete_keys(spark.range(2).select(F.col("id").alias("k")))
    # change files from BOTH sides of the rename union under the
    # upto-version's logical names
    ch = t.read_changes(0)
    assert "price" in ch.columns and "val" not in ch.columns
    assert ch.where("_change_type = 'update_postimage'") \
        .agg(F.sum("price")).first()[0] == -5.0
    assert ch.where("_change_type = 'delete'").count() == 2


def test_dv_delete_and_zorder_after_rename(spark, mapped):
    t = mapped
    t.rename_column("k", "key_id")
    t.delete_keys_dv(spark.range(3).select(F.col("id").alias("key_id")))
    assert t.snapshot().where("key_id < 3").count() == 0
    t.rename_column("grp", "g2")
    t.optimize_zorder(["g2"])
    assert t.snapshot().count() == 97
    assert t.snapshot().where("g2 = 0").count() == 9


def test_restore_brings_old_names_back(spark, mapped):
    t = mapped
    t.rename_column("val", "price")
    t.drop_column("price")
    t.restore(0)
    snap = t.snapshot()
    assert snap.columns == ["k", "grp", "val", "part"]
    assert snap.where("val is not null").count() == 100


def test_dml_where_after_rename(spark, mapped):
    t = mapped
    t.rename_column("grp", "g2")
    t.update_where({"val": "val * 2"}, "g2 = 1")
    got = t.snapshot().where("g2 = 1").agg(F.sum("val")).first()[0]
    assert abs(got - sum(i * 3.0 for i in range(100)
                         if i % 10 == 1)) < 1e-6
    t.delete_where("g2 = 0")
    assert t.snapshot().where("g2 = 0").count() == 0


def test_rename_guards(spark, mapped):
    t = mapped
    t.add_constraint("pos", "k >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("k", "kk")
    with pytest.raises(ValueError, match="merge key"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("val", "grp")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("part")
    # fresh table: only-column guard
    t2 = TxTable(spark, t.root + "_2")
    t2.create(spark.range(3).select(F.col("id").alias("k")), "k")
    with pytest.raises(ValueError, match="only column"):
        t2.drop_column("k")


def test_rename_cycle_back_to_original(spark, mapped):
    """a -> b -> a round-trip: the mapping collapses to identity and
    reads stay exact (the rename-to-original edge where a naive
    mapping would shadow the physical column)."""
    t = mapped
    t.rename_column("val", "price")
    t.rename_column("price", "val")
    snap = t.snapshot()
    assert snap.columns == ["k", "grp", "val", "part"]
    assert snap.agg(F.sum("val")).first()[0] == \
        sum(i * 1.5 for i in range(100))
    meta = t._state()[0]
    assert meta["column_mapping"] == {}      # identity entries dropped


def test_streaming_source_reads_renamed_table(spark, tmp_path):
    """The Spark-4 Python DataSource streams a table whose columns were
    renamed: files carry physical names, the stream schema speaks the
    CURRENT logical names via the frozen mapping."""
    from walmart_project_etl_spark.streaming.txsource import \
        TxLogChangesDataSource

    root = str(tmp_path / "s")
    t = TxTable(spark, root)
    t.create(_base_df(spark, 20), "k", change_feed=True)
    t.rename_column("val", "price")
    t.append(_base_df(spark, 30).where("k >= 20")
             .withColumnRenamed("val", "price"))
    spark.dataSource.register(TxLogChangesDataSource)
    q = (spark.readStream.format("txlog_changes").option("root", root)
         .load().writeStream.format("memory")
         .queryName("map_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM map_stream")
    assert "price" in got.columns
    assert got.count() == 30
    assert got.where("price is null").count() == 0
