"""Cross-table transactions on the catalog (sources/txlog.py
``TxCatalog.begin`` / ``CatalogTxn``): the single decision file is the
atomic commit point for every staged table, undecided staging is
invisible / blocking / presumed-abortable, and published pins give
consistent multi-table snapshots with catalog-version time travel.

The reference's target load publishes the SCD dimension and the fact
table as one logical unit (``etl_target_loader.py`` two-phase target
stage); these tests pin the engine's stronger, catalog-coordinated
version of that contract.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.sources.txlog import (
    TxCatalog, TxTable, TxnAbortedError, TxnInDoubtError, _decide,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.fixture()
def cat(spark, tmp_path):
    """Catalog with a dim (customer) and a fact (orders) table."""
    c = TxCatalog(spark, str(tmp_path / "cat"))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
        .select("c_custkey", "c_name", "c_acctbal")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    c.create_table("dim_customer", cust, "c_custkey", n_files=4)
    c.create_table("fact_orders", orders.where("o_orderkey % 3 = 0"),
                   "o_orderkey", n_files=4)
    return c, cust, orders


def test_multitable_commit_all_or_nothing(spark, cat):
    c, cust, orders = cat
    dim_updates = cust.where("c_custkey <= 5") \
        .withColumn("c_acctbal", F.lit(-777.25))   # absent from the data
    n_upd = dim_updates.count()
    fact_batch = orders.where("o_orderkey % 3 = 1")

    txn = c.begin()
    txn.table("dim_customer").merge_upsert(dim_updates)
    txn.table("fact_orders").append(fact_batch)

    # staged but undecided: NOTHING visible to latest readers, on either
    # table, through the catalog or directly
    assert c.table("dim_customer").snapshot() \
        .where("c_acctbal = -777.25").count() == 0
    assert c.table("fact_orders").snapshot().count() == \
        orders.where("o_orderkey % 3 = 0").count()
    assert c.read("fact_orders").count() == \
        orders.where("o_orderkey % 3 = 0").count()

    res = txn.commit()
    assert set(res["tables"]) == {"dim_customer", "fact_orders"}

    # after the one decision: BOTH visible, everywhere
    assert c.table("dim_customer").snapshot() \
        .where("c_acctbal = -777.25").count() == n_upd
    assert c.table("fact_orders").snapshot().count() == \
        orders.where("o_orderkey % 3 IN (0, 1)").count()
    snaps = c.snapshot_set(["dim_customer", "fact_orders"])
    assert snaps["fact_orders"].count() == \
        orders.where("o_orderkey % 3 IN (0, 1)").count()
    hist = c.table("fact_orders").history()
    assert hist[-1]["txn_status"] == "committed"


def test_uncommitted_txn_blocks_then_presumed_aborts(spark, cat):
    c, cust, orders = cat
    txn = c.begin()
    txn.table("dim_customer").merge_upsert(
        cust.where("c_custkey <= 3").withColumn("c_acctbal", F.lit(-111.125)))
    txn.table("fact_orders").append(orders.where("o_orderkey % 3 = 2"))
    # "crash": txn never decides

    # a writer inside the grace window must NOT build on undecided state
    strict = TxTable(spark, os.path.join(c.tables_dir, "dim_customer"))
    with pytest.raises(TxnInDoubtError):
        strict.merge_upsert(cust.where("c_custkey = 9"))

    # past the grace window the writer presumed-aborts the txn and
    # proceeds; the txn's staged rows never appear anywhere
    lenient = TxTable(spark, os.path.join(c.tables_dir, "dim_customer"),
                      txn_grace_s=0.0)
    lenient.merge_upsert(cust.where("c_custkey = 9")
                         .withColumn("c_acctbal", F.lit(-42.125)))
    got = c.table("dim_customer").snapshot()
    assert got.where("c_acctbal = -111.125").count() == 0
    assert got.where("c_custkey = 9 AND c_acctbal = -42.125").count() == 1
    assert got.count() == cust.count()

    # the fact staging died with the same decision (all-or-nothing):
    # force resolution via an explicit-version read with zero grace
    fact = TxTable(spark, os.path.join(c.tables_dir, "fact_orders"),
                   txn_grace_s=0.0)
    v = fact.versions()[-1]
    assert fact.snapshot(v).count() == \
        orders.where("o_orderkey % 3 = 0").count()
    assert fact.history()[-1]["txn_status"] == "aborted"

    # the late commit learns it lost
    with pytest.raises(TxnAbortedError):
        txn.commit()

    # aborted staging's data files are reclaimable garbage
    removed = fact.vacuum_uncommitted(older_than_s=0.0)
    assert removed, "aborted pending's files should be unreferenced"
    assert fact.snapshot().count() == \
        orders.where("o_orderkey % 3 = 0").count()


def test_snapshot_set_is_consistent_and_time_travels(spark, cat):
    c, cust, orders = cat
    n2 = cust.where("c_custkey <= 2").count()
    with c.begin() as t1:
        t1.table("dim_customer").merge_upsert(
            cust.where("c_custkey <= 2").withColumn("c_acctbal",
                                                    F.lit(-100.125)))
        t1.table("fact_orders").append(
            orders.where("o_orderkey % 3 = 1"))
    cut1 = c._versions()[-1]

    with c.begin() as t2:
        t2.table("dim_customer").merge_upsert(
            cust.where("c_custkey <= 2").withColumn("c_acctbal",
                                                    F.lit(-200.125)))
        t2.table("fact_orders").append(
            orders.where("o_orderkey % 3 = 2"))

    # latest cut: both tables at txn2
    now = c.snapshot_set(["dim_customer", "fact_orders"])
    assert now["dim_customer"].where("c_acctbal = -200.125").count() == n2
    assert now["fact_orders"].count() == orders.count()

    # catalog-version time travel: the WHOLE SET reverts to txn1's cut
    old = c.snapshot_set(["dim_customer", "fact_orders"],
                         catalog_version=cut1)
    assert old["dim_customer"].where("c_acctbal = -100.125").count() == n2
    assert old["dim_customer"].where("c_acctbal = -200.125").count() == 0
    assert old["fact_orders"].count() == \
        orders.where("o_orderkey % 3 IN (0, 1)").count()


def test_same_table_txns_serialize_disjoint_run_free(spark, cat):
    c, cust, orders = cat
    t1 = c.begin()
    t1.table("dim_customer").merge_upsert(
        cust.where("c_custkey = 1").withColumn("c_acctbal", F.lit(-1.125)))

    # second txn on the SAME table blocks while t1 is undecided
    t2 = c.begin()
    with pytest.raises(TxnInDoubtError):
        t2.table("dim_customer").merge_upsert(
            cust.where("c_custkey = 2").withColumn("c_acctbal",
                                                   F.lit(-2.125)))
    # ...but a txn on a DISJOINT table runs and commits freely
    t3 = c.begin()
    t3.table("fact_orders").append(orders.where("o_orderkey % 3 = 1"))
    t3.commit()

    t1.commit()
    t2.table("dim_customer").merge_upsert(
        cust.where("c_custkey = 2").withColumn("c_acctbal", F.lit(-2.125)))
    t2.commit()
    got = c.read("dim_customer")
    assert got.where("c_custkey = 1 AND c_acctbal = -1.125").count() == 1
    assert got.where("c_custkey = 2 AND c_acctbal = -2.125").count() == 1


def test_read_your_writes_within_txn(spark, cat):
    c, cust, orders = cat
    txn = c.begin()
    h = txn.table("dim_customer")
    h.merge_upsert(cust.where("c_custkey = 7")
                   .withColumn("c_acctbal", F.lit(-7.625)))
    # the txn's own handle sees its staged write...
    assert h.snapshot().where("c_custkey = 7 AND c_acctbal = -7.625") \
        .count() == 1
    # ...and can build a second staged commit on top of it
    h.merge_upsert(cust.where("c_custkey = 8")
                   .withColumn("c_acctbal", F.lit(-8.625)))
    assert h.snapshot().where("c_acctbal IN (-7.625, -8.625)").count() == 2
    # outsiders see neither
    assert c.table("dim_customer").snapshot() \
        .where("c_acctbal IN (-7.625, -8.625)").count() == 0
    txn.commit()
    assert c.read("dim_customer") \
        .where("c_acctbal IN (-7.625, -8.625)").count() == 2


def test_recover_republishes_after_crash_before_publish(spark, cat):
    c, cust, orders = cat
    txn = c.begin()
    txn.table("fact_orders").append(orders.where("o_orderkey % 3 = 1"))
    # simulate a crash BETWEEN the decision (durable commit point) and
    # the catalog publish entry
    staged = txn.staged()
    _decide(txn.decision, "committed", extra={"tables": staged})

    # table state is already committed...
    assert c.table("fact_orders").snapshot().count() == \
        orders.where("o_orderkey % 3 IN (0, 1)").count()
    # ...but the pin watermark lags (no publish entry yet)
    pins, _ = c._pins()
    assert "fact_orders" not in pins

    res = c.recover()
    assert res["republished"] == [txn.id]
    pins, _ = c._pins()
    assert pins["fact_orders"] == staged["fact_orders"]
    assert c.recover()["republished"] == []          # idempotent


def test_context_manager_aborts_on_exception(spark, cat):
    c, cust, orders = cat
    with pytest.raises(RuntimeError, match="boom"):
        with c.begin() as txn:
            txn.table("dim_customer").merge_upsert(
                cust.where("c_custkey = 4").withColumn("c_acctbal",
                                                       F.lit(-4.125)))
            raise RuntimeError("boom")
    assert c.table("dim_customer").snapshot() \
        .where("c_acctbal = -4.125").count() == 0
    with open(os.path.join(c.txn_dir, os.listdir(c.txn_dir)[0])) as fh:
        assert json.load(fh)["status"] == "aborted"


def test_txn_handles_never_checkpoint_undecided_state(spark, tmp_path):
    """A txn handle crossing the checkpoint interval must not bake its
    own undecided staged writes into a shared checkpoint file."""
    c = TxCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    c.create_table("t", df, "k", n_files=2)
    txn = c.begin()
    h = txn.table("t")
    h.checkpoint_interval = 1          # force the checkpoint path
    h.append(df.where("k < 5").withColumn("v", F.col("v") + 1000))
    assert not h._checkpoint_versions(), \
        "undecided staged state leaked into a checkpoint"
    txn.commit()


def test_rename_table_metadata_only(spark, tmp_path):
    """RENAME is one catalog commit, zero file moves: reads follow the
    new name (same storage dir), the old name frees for a fresh table
    (unique dir), pins follow the rename, and drop-purge removes the
    renamed table's real directory."""
    import os

    from walmart_project_etl_spark.sources.txlog import TxCatalog

    cat = TxCatalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([(k, float(k)) for k in range(30)],
                               "k long, v double")
    cat.create_table("orders", df, "k", n_files=2)
    before = sorted(r["k"] for r in cat.table("orders")
                    .snapshot().collect())

    cat.rename_table("orders", "orders_v2")
    assert cat.list_tables() == ["orders_v2"]
    with pytest.raises(KeyError):
        cat.table("orders")
    got = sorted(r["k"] for r in cat.table("orders_v2")
                 .snapshot().collect())
    assert got == before
    # same storage dir — no files moved
    assert os.path.isdir(str(tmp_path / "cat" / "tables" / "orders"))

    # the freed name hosts a NEW table (fresh unique dir)
    df2 = spark.createDataFrame([(99, 9.9)], "k long, v double")
    cat.create_table("orders", df2, "k")
    assert sorted(cat.list_tables()) == ["orders", "orders_v2"]
    assert cat.table("orders").snapshot().count() == 1
    assert cat.table("orders_v2").snapshot().count() == 30

    # transactional writes through the renamed handle still work, and
    # the publish pins follow the name
    with cat.begin() as txn:
        txn.table("orders_v2").append(
            spark.createDataFrame([(1000, 1.0)], "k long, v double"))
    assert cat.read("orders_v2").count() == 31
    cat.rename_table("orders_v2", "orders_v3")
    assert cat.read("orders_v3").count() == 31   # pin followed

    # collision + missing-source errors
    with pytest.raises(ValueError, match="already exists"):
        cat.rename_table("orders", "orders_v3")
    with pytest.raises(KeyError):
        cat.rename_table("ghost", "x")
    # drop-purge of the renamed table removes its REAL directory
    cat.drop_table("orders_v3", purge=True)
    assert not os.path.isdir(str(tmp_path / "cat" / "tables" / "orders"))


def test_drop_racing_a_rename_keeps_the_renamed_table(spark, tmp_path):
    """A rename that lands between ``drop_table``'s name check and its
    commit: the drop re-checks the name at the version it commits on
    and raises KeyError, so the renamed table keeps its entry, its
    directory and its rows (the drop used to commit over the vanished
    name and purge the renamed table's directory)."""
    root = str(tmp_path / "cat")
    cat = TxCatalog(spark, root)
    df = spark.createDataFrame([(k, float(k)) for k in range(20)],
                               "k long, v double")
    cat.create_table("orders", df, "k", n_files=2)
    commit = cat._commit

    def racing_commit(action, v):
        cat._commit = commit                         # race once
        TxCatalog(spark, root).rename_table("orders", "orders_v2")
        return commit(action, v)

    cat._commit = racing_commit
    with pytest.raises(KeyError):
        cat.drop_table("orders", purge=True)
    assert cat.list_tables() == ["orders_v2"]
    assert os.path.isdir(os.path.join(root, "tables", "orders"))
    assert cat.table("orders_v2").snapshot().count() == 20
