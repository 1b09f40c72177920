"""Change data feed on the tx table (sources/txlog.py
``create(change_feed=True)`` / ``read_changes``): row-level change
capture at MERGE/DELETE, derived inserts for appends, retention, and
the sealed-prefix interplay with cross-table transactions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.sources.txlog import TxCatalog, TxTable

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.fixture()
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet") \
                .select("o_orderkey", "o_custkey", "o_totalprice",
                        "o_orderstatus")


ALL = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
       "_change_type", "_commit_version"]


def test_merge_and_delete_change_capture(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8, change_feed=True)
    updates = (orders.where("o_orderkey % 50 = 3")
               .withColumn("o_totalprice", F.col("o_orderkey") * 0.5)
               .unionByName(spark.createDataFrame(
                   [(999999991, 1, 2.5, "N")], orders.schema)))
    t.merge_upsert(updates)                                       # v1
    dels = orders.where("o_orderkey % 50 = 11").select("o_orderkey")
    t.delete_keys(dels)                                           # v2

    expected = (
        orders.where("o_orderkey % 50 = 3")
        .withColumn("_change_type", F.lit("update_preimage"))
        .withColumn("_commit_version", F.lit(1).cast("long"))
        .unionByName(
            updates.where("o_orderkey <> 999999991")
            .withColumn("_change_type", F.lit("update_postimage"))
            .withColumn("_commit_version", F.lit(1).cast("long")))
        .unionByName(
            updates.where("o_orderkey = 999999991")
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(1).cast("long")))
        .unionByName(
            orders.where("o_orderkey % 50 = 11")
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_commit_version", F.lit(2).cast("long"))))
    assert _rows(t.read_changes(since_version=1), ALL) == \
        _rows(expected, ALL)

    # windowing: only the delete commit
    only_del = t.read_changes(since_version=2)
    assert {r["_change_type"] for r in
            only_del.select("_change_type").distinct().collect()} == \
        {"delete"}
    assert only_del.count() == dels.count()

    # the same two commits through apply_changes — upserts only, then
    # deletes only — give the same snapshots and feed rows; only the
    # delete's op name differs
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.create(orders, "o_orderkey", n_files=8, change_feed=True)
    t2.apply_changes(updates.withColumn("_change_type",
                                        F.lit("update_postimage")))
    t2.apply_changes(orders.where("o_orderkey % 50 = 11")
                     .withColumn("_change_type", F.lit("delete")))
    for v in (1, 2):
        assert _rows(t2.snapshot(v), orders.columns) == \
            _rows(t.snapshot(v), orders.columns)
    assert _rows(t2.read_changes(since_version=1), ALL) == \
        _rows(expected, ALL)
    assert [h["op"] for h in t.history()] == ["create", "merge", "delete"]
    assert [h["op"] for h in t2.history()] == ["create", "merge", "merge"]


def test_create_and_append_inserts_are_derived(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    first = orders.where("o_orderkey % 2 = 0")
    second = orders.where("o_orderkey % 2 = 1")
    t.create(first, "o_orderkey", n_files=4, change_feed=True)
    t.append(second)
    ch = t.read_changes(since_version=0)
    assert ch.where("_change_type <> 'insert'").count() == 0
    assert _rows(ch.select(*orders.columns), orders.columns) == \
        _rows(orders, orders.columns)
    # appends must not double-write change files — inserts derive from
    # the add files themselves
    assert not [f for f in os.listdir(t.data_dir)
                if f.startswith("cdf-")]


def test_compact_contributes_no_changes(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8, change_feed=True)
    t.compact(target_rows=10_000_000)                    # rewrites all
    assert t.read_changes(since_version=1).count() == 0


def test_read_changes_requires_flag(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4)
    with pytest.raises(ValueError, match="change_feed"):
        t.read_changes()


def test_sealed_prefix_stops_at_undecided_txn(spark, orders, tmp_path):
    c = TxCatalog(spark, str(tmp_path / "cat"))
    c.create_table("t", orders, "o_orderkey", n_files=4,
                   change_feed=True)
    c.table("t").delete_keys(
        orders.where("o_orderkey % 100 = 7").select("o_orderkey"))  # v1
    n_del = orders.where("o_orderkey % 100 = 7").count()

    txn = c.begin()
    txn.table("t").merge_upsert(
        orders.where("o_orderkey % 100 = 9")
        .withColumn("o_totalprice", F.lit(-5.125)))       # staged v2

    # a consumer sees ONLY the sealed prefix (v1), so advancing its
    # watermark past v1 can never skip the staged commit
    ch = c.table("t").read_changes(since_version=1)
    assert ch.count() == n_del
    assert ch.agg(F.max("_commit_version")).first()[0] == 1

    txn.commit()
    ch2 = c.table("t").read_changes(since_version=1)
    assert ch2.agg(F.max("_commit_version")).first()[0] == 2
    assert ch2.where("_change_type = 'update_postimage'").count() == \
        orders.where("o_orderkey % 100 = 9").count()


def test_vacuum_reclaims_old_change_files(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    for i in range(4):                                   # v1..v4
        t.merge_upsert(orders.where(f"o_orderkey % 100 = {i}")
                       .withColumn("o_totalprice", F.lit(float(i))))
    n_cdf_before = len([f for f in os.listdir(t.data_dir)
                        if f.startswith("cdf-")])
    assert n_cdf_before >= 4
    res = t.vacuum(retain_versions=2)                    # horizon = v3
    assert res["removed"] > 0
    n_cdf_after = len([f for f in os.listdir(t.data_dir)
                       if f.startswith("cdf-")])
    assert n_cdf_after < n_cdf_before
    # changes after the horizon stay fully readable
    ch = t.read_changes(since_version=4)
    assert ch.where("_change_type = 'update_postimage'").count() == \
        orders.where("o_orderkey % 100 = 3").count()


def _drain(spark, root, sink_dir, ckpt, since=None):
    """availableNow drain of the txlog_changes stream into a parquet
    sink (fault-tolerant → checkpointed offsets survive restarts)."""
    from walmart_project_etl_spark.streaming.txsource import \
        TxLogChangesDataSource
    spark.dataSource.register(TxLogChangesDataSource)
    reader = spark.readStream.format("txlog_changes").option("root", root)
    if since is not None:
        reader = reader.option("sinceVersion", str(since))
    q = (reader.load().writeStream.format("parquet")
         .option("path", sink_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


def test_stream_source_matches_batch_feed(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.where("o_orderkey % 2 = 0"), "o_orderkey",
             n_files=4, change_feed=True)
    t.append(orders.where("o_orderkey % 2 = 1"))
    t.merge_upsert(orders.where("o_orderkey % 50 = 3")
                   .withColumn("o_totalprice", F.col("o_orderkey") * 0.5))
    t.delete_keys(orders.where("o_orderkey % 50 = 11")
                  .select("o_orderkey"))
    got = _drain(spark, t.root, str(tmp_path / "sink"),
                 str(tmp_path / "ckpt"))
    assert _rows(got, ALL) == _rows(t.read_changes(0), ALL)


def test_stream_checkpoint_resume_is_exactly_once(spark, orders,
                                                  tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    first = _drain(spark, t.root, sink, ckpt)
    assert first.count() == orders.count()          # v0 inserts

    # new commits land; the SAME checkpoint resumes and emits ONLY them
    t.delete_keys(orders.where("o_orderkey % 100 = 7")
                  .select("o_orderkey"))            # v1
    second = _drain(spark, t.root, sink, ckpt)
    new = second.where("_commit_version >= 1")
    assert second.count() == orders.count() + new.count()  # no replays
    assert new.count() == \
        orders.where("o_orderkey % 100 = 7").count()
    assert {r["_change_type"] for r in
            new.select("_change_type").distinct().collect()} == \
        {"delete"}


def test_stream_fences_to_sealed_prefix(spark, orders, tmp_path):
    c = TxCatalog(spark, str(tmp_path / "cat"))
    c.create_table("t", orders, "o_orderkey", n_files=4,
                   change_feed=True)
    root = os.path.join(c.tables_dir, "t")
    txn = c.begin()
    txn.table("t").merge_upsert(
        orders.where("o_orderkey % 100 = 9")
        .withColumn("o_totalprice", F.lit(-3.125)))  # staged, undecided

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    first = _drain(spark, root, sink, ckpt)
    # only the sealed prefix (v0 create) drains; the staged commit is
    # NOT skipped-and-lost — it simply hasn't been reached
    assert first.agg(F.max("_commit_version")).first()[0] == 0

    txn.commit()
    second = _drain(spark, root, sink, ckpt)
    assert second.agg(F.max("_commit_version")).first()[0] == 1
    assert second.where("_change_type = 'update_postimage'").count() == \
        orders.where("o_orderkey % 100 = 9").count()


def test_incremental_agg_fold_matches_recompute(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8, change_feed=True)
    t.merge_upsert(orders.where("o_orderkey % 50 = 3")
                   .withColumn("o_totalprice", F.col("o_orderkey") * 0.5))
    t.delete_keys(orders.where("o_orderkey % 50 = 11")
                  .select("o_orderkey"))

    dec = F.col("o_totalprice").cast("decimal(28,6)")
    base = (t.snapshot(0).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n0"), F.sum(dec).alias("r0")))
    sign = F.when(F.col("_change_type").isin("insert",
                                             "update_postimage"),
                  F.lit(1)).otherwise(F.lit(-1))
    delta = (t.read_changes(since_version=1).groupBy("o_orderstatus")
             .agg(F.sum(sign).alias("nd"), F.sum(dec * sign).alias("rd")))
    zero = F.lit(0).cast("decimal(28,6)")
    folded = (base.join(delta, "o_orderstatus", "full")
              .select("o_orderstatus",
                      (F.coalesce("n0", F.lit(0))
                       + F.coalesce("nd", F.lit(0))).alias("n"),
                      (F.coalesce("r0", zero)
                       + F.coalesce("rd", zero)).alias("rev")))
    recomputed = (t.snapshot().groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(dec).alias("rev")))
    cols = ["o_orderstatus", "n", "rev"]
    assert _rows(folded, cols) == _rows(recomputed, cols)


def test_stream_mv_refresh_follows_and_resumes(spark, orders, tmp_path):
    """The streaming MV: drains the CDF backlog into exactly-once
    refreshes, equals a from-scratch aggregate, and a SECOND stream run
    from the same checkpoint folds only the commits that landed in
    between (watermark == source head both times)."""
    from walmart_project_etl_spark.sources.txlog import TxTable
    from walmart_project_etl_spark.streaming import stream_mv_refresh

    root = str(tmp_path / "smv")
    src = TxTable(spark, root)
    src.create(orders.where("o_orderkey % 2 = 0"), "o_orderkey",
               n_files=2, change_feed=True)
    src.append(orders.where("o_orderkey % 2 = 1"))
    src.merge_upsert(orders.where("o_orderkey % 13 = 0")
                     .withColumn("o_totalprice", F.lit(4.0)))

    def check(mv):
        got = {r["o_orderstatus"]: (r["n_rows"], float(r["total"]))
               for r in mv.snapshot().collect()}
        exp = {r["o_orderstatus"]: (r["n"], float(r["s"])) for r in
               src.snapshot().groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("o_totalprice")
                             .cast("decimal(28,6)")).alias("s"))
                  .collect()}
        assert got == exp
        assert mv.last_txn("agg_mv_refresh") == src.versions()[-1]

    mv = stream_mv_refresh(spark, root, str(tmp_path / "mv"),
                           ["o_orderstatus"], "o_totalprice")
    check(mv)
    src.delete_keys(orders.where("o_orderkey % 9 = 2")
                    .select("o_orderkey"))
    mv = stream_mv_refresh(spark, root, str(tmp_path / "mv"),
                           ["o_orderstatus"], "o_totalprice")
    check(mv)


def test_read_changes_folds_through_tracked_restore(spark, orders,
                                                    tmp_path):
    """A RESTORE on a change-feed table materializes its own row-level
    diff (beyond Delta, where RESTORE breaks CDF consumers): the feed
    flows exactly across it — the restore commit's changes are the
    insert-back of the rows the undone commit deleted — and the diff
    read touches only the files that CHANGED since the target, never
    the common untouched ones."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    n0 = t.snapshot().count()
    # contiguous low key range: the delete rewrites ONE range-clustered
    # file, so the restore diff has untouched files to skip
    doomed = orders.where("o_orderkey <= 200").select("o_orderkey")
    n_doomed = doomed.count()
    assert n_doomed > 0
    t.delete_keys(doomed)                                 # v1

    read_sizes = []
    orig = t._read_files

    def spying(meta, actions, **kw):
        acts = list(actions)
        read_sizes.append(len(acts))
        return orig(meta, acts, **kw)

    t._read_files = spying                  # type: ignore[assignment]
    res = t.restore(0)                                    # v2: tracked
    t._read_files = orig                    # type: ignore[assignment]
    assert res["cdf_tracked"] is True
    # O(changed files): each diff-side read is smaller than the table
    _, live = t._state()
    assert read_sizes and all(n < len(live) for n in read_sizes)

    t.append(orders.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice", "o_orderstatus").limit(5))  # v3

    ch = t.read_changes(since_version=1).collect()
    v2 = [r for r in ch if r["_commit_version"] == 2]
    assert len(v2) == n_doomed              # exactly the undone deletes
    assert {r["_change_type"] for r in v2} == {"insert"}
    # fold the whole feed onto the v0 snapshot == the latest snapshot
    keys = {r["o_orderkey"] for r in
            t.snapshot(0).select("o_orderkey").collect()}
    for v in sorted({r["_commit_version"] for r in ch}):
        vr = [r for r in ch if r["_commit_version"] == v]
        keys -= {r["o_orderkey"] for r in vr
                 if r["_change_type"] in ("delete", "update_preimage")}
        keys |= {r["o_orderkey"] for r in vr
                 if r["_change_type"] in ("insert", "update_postimage")}
    assert keys == {r["o_orderkey"] for r in
                    t.snapshot().select("o_orderkey").collect()}
    assert len(keys) == n0 + 5


def test_read_changes_raises_across_schema_crossing_restore(
        spark, orders, tmp_path):
    """A restore ACROSS a schema change (rename between target and now)
    cannot represent pre-image rows under the restored schema — it
    commits UNTRACKED and the feed raises, preserving the legacy resync
    contract; a range starting after it reads normally."""
    from walmart_project_etl_spark.sources.txlog import \
        ChangeFeedRestoredError

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    t.rename_column("o_custkey", "cust_id")               # v1
    t.delete_keys(orders.where("o_orderkey % 10 = 1")
                  .select("o_orderkey"))                  # v2
    res = t.restore(0)                                    # v3: untracked
    assert res["cdf_tracked"] is False
    t.append(orders.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice", "o_orderstatus").limit(5))  # v4

    with pytest.raises(ChangeFeedRestoredError) as ei:
        t.read_changes(since_version=1)
    assert ei.value.restore_version == 3
    # consumer resynced at/after the restore: range past it is clean
    ch = t.read_changes(since_version=4)
    assert ch.count() == 5
    assert {r["_change_type"] for r in
            ch.select("_change_type").distinct().collect()} == {"insert"}


def test_mv_folds_through_tracked_restore(spark, orders, tmp_path):
    """refresh_agg_mv folds a row-TRACKED source RESTORE through the
    ordinary incremental path (no resync): the MV equals a from-scratch
    aggregate of the restored snapshot, and a group that existed only
    pre-restore is deleted by its zero-count fold."""
    from walmart_project_etl_spark.operators import matview
    from walmart_project_etl_spark.operators.matview import \
        refresh_agg_mv

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    # v1: introduce a brand-new group 'Z' the restore will erase
    t.merge_upsert(orders.limit(7).withColumn("o_orderstatus",
                                              F.lit("Z")))
    mv = refresh_agg_mv(spark, t, str(tmp_path / "mv"),
                        ["o_orderstatus"], "o_totalprice")
    assert mv.snapshot().where("o_orderstatus = 'Z'").count() == 1

    res = t.restore(0)                                    # v2: Z gone
    assert res["cdf_tracked"] is True
    t.delete_keys(orders.where("o_orderkey % 10 = 3")
                  .select("o_orderkey"))                  # v3

    def no_resync(*a, **kw):                # the O(changed rows)
        raise AssertionError(               # contract must hold
            "tracked restore must not trigger a full resync")

    orig = matview._resync_plan
    matview._resync_plan = no_resync
    try:
        mv = refresh_agg_mv(spark, t, str(tmp_path / "mv"),
                            ["o_orderstatus"], "o_totalprice")
    finally:
        matview._resync_plan = orig

    got = {r["o_orderstatus"]: (r["n_rows"], str(r["total"]))
           for r in mv.snapshot().collect()}
    exp = {r["o_orderstatus"]: (r["n"], str(r["s"])) for r in
           t.snapshot().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("double")
                       .cast("decimal(28,6)")).alias("s")).collect()}
    assert got == exp
    assert "Z" not in got                    # stale group deleted
    # exactly-once marker advanced to the source head; replay no-ops
    assert mv.last_txn("agg_mv_refresh") == t.versions()[-1]
    v_before = mv.versions()[-1]
    refresh_agg_mv(spark, t, str(tmp_path / "mv"),
                   ["o_orderstatus"], "o_totalprice")
    assert mv.versions()[-1] == v_before


def test_mv_full_resync_after_untracked_restore(spark, orders,
                                                tmp_path):
    """refresh_agg_mv recovers from an UNTRACKED source RESTORE (one
    crossing a schema change) with a full resync: the MV equals a
    from-scratch aggregate of the restored snapshot, and groups that
    existed only pre-restore are dropped."""
    from walmart_project_etl_spark.operators.matview import \
        refresh_agg_mv

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    # v1: a rename the restore will cross, making it untracked
    t.rename_column("o_custkey", "cust_id")
    # v2: introduce a brand-new group 'Z' the restore will erase
    t.merge_upsert(orders.limit(7)
                   .withColumnRenamed("o_custkey", "cust_id")
                   .withColumn("o_orderstatus", F.lit("Z")))
    mv = refresh_agg_mv(spark, t, str(tmp_path / "mv"),
                        ["o_orderstatus"], "o_totalprice")
    assert mv.snapshot().where("o_orderstatus = 'Z'").count() == 1

    res = t.restore(0)                                    # v3: Z gone
    assert res["cdf_tracked"] is False
    t.delete_keys(orders.where("o_orderkey % 10 = 3")
                  .select("o_orderkey"))                  # v4
    mv = refresh_agg_mv(spark, t, str(tmp_path / "mv"),
                        ["o_orderstatus"], "o_totalprice")

    got = {r["o_orderstatus"]: (r["n_rows"], str(r["total"]))
           for r in mv.snapshot().collect()}
    exp = {r["o_orderstatus"]: (r["n"], str(r["s"])) for r in
           t.snapshot().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("double")
                       .cast("decimal(28,6)")).alias("s")).collect()}
    assert got == exp
    assert "Z" not in got                    # stale group deleted
    assert mv.last_txn("agg_mv_refresh") == t.versions()[-1]


def test_stream_source_rate_limit_bounded_batches(spark, orders,
                                                  tmp_path):
    """maxFilesPerTrigger (Delta's streaming rate-limit knob): a
    multi-commit backfill drains as >1 bounded micro-batches with the
    same final state as the unbounded batch feed."""
    import time

    from walmart_project_etl_spark.streaming.txsource import \
        TxLogChangesDataSource

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.where("o_orderkey % 4 = 0"), "o_orderkey",
             n_files=2, change_feed=True)
    for i in (1, 2, 3):
        t.append(orders.where(f"o_orderkey % 4 = {i}"))

    spark.dataSource.register(TxLogChangesDataSource)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (spark.readStream.format("txlog_changes")
         .option("root", t.root).option("maxFilesPerTrigger", "2")
         .load().writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).outputMode("append")
         .start())
    exp = orders.count()
    try:
        for _ in range(120):
            time.sleep(1)
            try:
                if spark.read.parquet(sink).count() >= exp:
                    break
            except Exception:
                pass
    finally:
        q.stop()
    n_batches = len([f for f in os.listdir(os.path.join(ckpt, "offsets"))
                     if not f.startswith(".")])
    assert n_batches > 1                     # bounded, not one giant batch
    got = spark.read.parquet(sink)
    assert _rows(got, ALL) == _rows(t.read_changes(0), ALL)


def test_stream_source_carries_dv_and_replace_where_changes(
        spark, orders, tmp_path):
    """The streaming source must serve the SAME ops as the batch feed —
    delete_dv and replace_where commits capture cdf files too (they
    were silently dropped before r10)."""
    part = (orders.withColumn("o_orderstatus",
                              F.col("o_orderstatus").cast("string")))
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(part, "o_orderkey", n_files=4, change_feed=True,
             partition_by="o_orderstatus")
    t.delete_keys_dv(orders.where("o_orderkey % 20 = 7")
                     .select("o_orderkey"))                      # v1
    t.replace_where("O", part.where("o_orderstatus = 'O'")
                    .limit(10))                                  # v2
    got = _drain(spark, t.root, str(tmp_path / "sink"),
                 str(tmp_path / "ckpt"))
    assert _rows(got, ALL) == _rows(t.read_changes(0), ALL)
    assert got.where("_commit_version = 1").count() > 0
    assert got.where("_commit_version = 2").count() > 0


def test_stream_source_flows_across_tracked_restore(spark, orders,
                                                    tmp_path):
    """A row-tracked RESTORE streams through the CDF source as its
    materialized diff — the stream no longer dies on an undo of a bad
    commit (parity with the batch feed's tracked-restore behavior)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    t.delete_keys(orders.where("o_orderkey <= 200")
                  .select("o_orderkey"))                         # v1
    res = t.restore(0)                                           # v2
    assert res["cdf_tracked"] is True
    t.append(orders.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice", "o_orderstatus").limit(5))  # v3
    got = _drain(spark, t.root, str(tmp_path / "sink"),
                 str(tmp_path / "ckpt"))
    assert _rows(got, ALL) == _rows(t.read_changes(0), ALL)
    assert got.where("_commit_version = 2").count() > 0  # the diff


def test_minmax_mv_incremental_and_ivm_fallback(spark, orders, tmp_path,
                                                monkeypatch):
    """(count, MIN, MAX) MV: inserts and non-extreme deletes maintain
    the extremes incrementally (zero recomputed groups); deleting a
    group's extreme row triggers the IVM fallback for ONLY that group,
    and the recompute read is partition-pruned (< table files)."""
    from walmart_project_etl_spark.operators import matview
    from walmart_project_etl_spark.operators.matview import \
        refresh_agg_mv_minmax

    src = TxTable(spark, str(tmp_path / "src"))
    src.create(orders, "o_orderkey", n_files=6, change_feed=True,
               partition_by="o_orderstatus")

    recomputed: list[tuple[list, int]] = []
    orig = matview._pruned_group_rows

    def spy(source, v, gcols, rec):
        groups = sorted(tuple(r) for r in rec.collect())
        df = orig(source, v, gcols, rec)
        if groups:                          # empty = nothing recomputed
            recomputed.append((groups, len(df.inputFiles())))
        return df

    monkeypatch.setattr(matview, "_pruned_group_rows", spy)

    def check(mv):
        got = {r["o_orderstatus"]: (r["n_rows"], str(r["vmin"]),
                                    str(r["vmax"]))
               for r in mv.snapshot().collect()}
        dec = F.col("o_totalprice").cast("double").cast("decimal(28,6)")
        exp = {r["o_orderstatus"]: (r["n"], str(r["lo"]), str(r["hi"]))
               for r in src.snapshot().groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"), F.min(dec).alias("lo"),
                    F.max(dec).alias("hi")).collect()}
        assert got == exp

    mv_root = str(tmp_path / "mv")
    mv = refresh_agg_mv_minmax(spark, src, mv_root,
                               ["o_orderstatus"], "o_totalprice")
    check(mv)
    assert recomputed == []                 # create fold: inserts only

    # insert-only refresh: incremental, no recompute
    src.append(orders.select(
        (F.col("o_orderkey") + 10**8).alias("o_orderkey"), "o_custkey",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        "o_orderstatus").limit(50))
    mv = refresh_agg_mv_minmax(spark, src, mv_root,
                               ["o_orderstatus"], "o_totalprice")
    check(mv)
    assert recomputed == []

    # delete a strictly-interior row of group 'O': still incremental
    interior = (src.snapshot().where("o_orderstatus = 'O'")
                .withColumn("rk", F.row_number().over(
                    __import__("pyspark").sql.Window
                    .partitionBy("o_orderstatus")
                    .orderBy("o_totalprice")))
                .where("rk = 5").select("o_orderkey"))
    src.delete_keys(interior)
    mv = refresh_agg_mv_minmax(spark, src, mv_root,
                               ["o_orderstatus"], "o_totalprice")
    check(mv)
    assert recomputed == []

    # delete the MAX row of group 'F': fallback recomputes ONLY 'F',
    # through the partition-pruned read
    fmax = (src.snapshot().where("o_orderstatus = 'F'")
            .orderBy(F.desc("o_totalprice")).limit(1)
            .select("o_orderkey"))
    src.delete_keys(fmax)
    mv = refresh_agg_mv_minmax(spark, src, mv_root,
                               ["o_orderstatus"], "o_totalprice")
    check(mv)
    assert len(recomputed) == 1
    groups, n_files_read = recomputed[0]
    assert groups == [("F",)]
    n_live = len(src._state()[1])
    assert 0 < n_files_read < n_live        # partition-pruned recompute

    # exactly-once: replay is a logged no-op
    v_before = mv.versions()[-1]
    refresh_agg_mv_minmax(spark, src, mv_root,
                          ["o_orderstatus"], "o_totalprice")
    assert mv.versions()[-1] == v_before


def test_avgdist_mv_incremental_and_sketch_fallback(spark, orders,
                                                    tmp_path,
                                                    monkeypatch):
    """(count, AVG, approx COUNT(DISTINCT)) MV: inserts maintain the
    HLL sketch incrementally (zero recomputed groups — union of
    partial sketches is lossless, so the estimate EQUALS a
    from-scratch sketch); a delete carrying a non-NULL distinct value
    triggers the sketch-recompute fallback for only the touched
    groups, partition-pruned; AVG derives from the exact (count, sum)
    state; replay is a logged no-op."""
    from walmart_project_etl_spark.operators import matview
    from walmart_project_etl_spark.operators.matview import (
        MV_HLL_LG_K, finalize_avg_distinct, refresh_agg_mv_avg_distinct)

    src = TxTable(spark, str(tmp_path / "src"))
    src.create(orders, "o_orderkey", n_files=6, change_feed=True,
               partition_by="o_orderstatus")

    recomputed: list[tuple[list, int]] = []
    orig = matview._pruned_group_rows

    def spy(source, v, gcols, rec):
        groups = sorted(tuple(r) for r in rec.collect())
        df = orig(source, v, gcols, rec)
        if groups:
            recomputed.append((groups, len(df.inputFiles())))
        return df

    monkeypatch.setattr(matview, "_pruned_group_rows", spy)

    mv_root = str(tmp_path / "mv")

    def refresh():
        return refresh_agg_mv_avg_distinct(
            spark, src, mv_root, ["o_orderstatus"], "o_totalprice",
            "o_custkey")

    def check(mv):
        got = {r["o_orderstatus"]: (r["n_rows"], r["total"], r["avg_v"],
                                    r["approx_distinct"])
               for r in finalize_avg_distinct(
                   mv.snapshot(), ["o_orderstatus"]).collect()}
        dec = F.col("o_totalprice").cast("double").cast("decimal(28,6)")
        exp = {r["o_orderstatus"]:
               (r["n"], float(r["s"]),
                round(float(r["s"]) / r["n"], 6), r["d"])
               for r in src.snapshot().groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.sum(dec), 2).cast("double").alias("s"),
                    F.hll_sketch_estimate(
                        F.hll_sketch_agg("o_custkey",
                                         F.lit(MV_HLL_LG_K))).alias("d"))
               .collect()}
        assert got == exp

    check(refresh())
    assert recomputed == []                 # create fold: inserts only

    # insert-only refresh: sketch unions stay incremental AND exact
    src.append(orders.select(
        (F.col("o_orderkey") + 10**8).alias("o_orderkey"),
        (F.col("o_custkey") + 10**7).alias("o_custkey"),
        "o_totalprice", "o_orderstatus").limit(50))
    check(refresh())
    assert recomputed == []

    # delete rows whose o_custkey is NULL-free (every row here) from
    # group 'F' only: fallback recomputes ONLY 'F', partition-pruned
    doomed = (src.snapshot().where("o_orderstatus = 'F'")
              .limit(5).select("o_orderkey"))
    src.delete_keys(doomed)
    check(refresh())
    assert len(recomputed) == 1
    groups, n_files_read = recomputed[0]
    assert groups == [("F",)]
    n_live = len(src._state()[1])
    assert 0 < n_files_read < n_live        # partition-pruned recompute

    # update that rewrites o_custkey: pre-images are removals → the
    # touched groups recompute; result still equals from-scratch
    upd = (src.snapshot().where("o_orderstatus = 'O'").limit(3)
           .withColumn("o_custkey", F.col("o_custkey") + 10**9)
           .localCheckpoint(eager=True))
    src.merge_upsert(upd)
    mv = refresh()
    check(mv)
    assert len(recomputed) == 2
    assert recomputed[1][0] == [("O",)]

    # exactly-once: replay is a logged no-op
    v_before = mv.versions()[-1]
    refresh()
    assert mv.versions()[-1] == v_before


def _seq(spark, root):
    """A source table with a mixed commit history: create, merge,
    delete, append — the four change-producing shapes."""
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("v"))
    src = TxTable(spark, root)
    src.create(df, "k", n_files=3, change_feed=True)
    src.merge_upsert(spark.range(5).select(F.col("id").alias("k"),
                                           F.lit(-1.0).alias("v")))
    src.delete_keys(spark.range(90, 95).select(F.col("id").alias("k")))
    src.append(spark.range(200, 210).select(F.col("id").alias("k"),
                                            F.lit(7.0).alias("v")))
    return src


def test_apply_changes_nets_and_replays(spark, tmp_path):
    """APPLY CHANGES INTO: one call over the WHOLE multi-commit feed
    nets per key (last change wins across versions) and lands in one
    atomic commit equal to the source snapshot; a replayed txn batch
    is a logged no-op; a delete for a key the replica never saw is
    harmless."""
    src = _seq(spark, str(tmp_path / "src"))
    rep = TxTable(spark, str(tmp_path / "rep"))
    rep.create(spark.createDataFrame([], src.snapshot().schema), "k",
               change_feed=True)
    rep.apply_changes(src.read_changes(0), txn=("r", 1))
    cols = ["k", "v"]
    assert _rows(rep.snapshot(), cols) == _rows(src.snapshot(), cols)
    n = len(rep.versions())
    rep.apply_changes(src.read_changes(0), txn=("r", 1))   # replay
    assert len(rep.versions()) == n
    # replica's own CDF captured the apply — a second-tier replica chains
    rep2 = TxTable(spark, str(tmp_path / "rep2"))
    rep2.create(spark.createDataFrame([], src.snapshot().schema), "k")
    rep2.apply_changes(rep.read_changes(0))
    assert _rows(rep2.snapshot(), cols) == _rows(src.snapshot(), cols)


def test_stream_replicate_table_follows_source(spark, tmp_path):
    """The streaming replica: backlog drain equals the source; more
    source commits + a second run catch up exactly-once (the replica's
    txn marker makes redelivered batches no-ops)."""
    from walmart_project_etl_spark.streaming.jobs import \
        stream_replicate_table

    src = _seq(spark, str(tmp_path / "s"))
    rep_root = str(tmp_path / "r")
    rep = stream_replicate_table(spark, str(tmp_path / "s"), rep_root)
    cols = ["k", "v"]
    assert _rows(rep.snapshot(), cols) == _rows(src.snapshot(), cols)
    src.update_where({"v": "v * 10"}, "k < 3")
    src.delete_keys(spark.range(3, 5).select(F.col("id").alias("k")))
    rep = stream_replicate_table(spark, str(tmp_path / "s"), rep_root)
    assert _rows(rep.snapshot(), cols) == _rows(src.snapshot(), cols)


def test_join_agg_mv_tracks_dimension_groups(spark, tmp_path):
    """enrich-hook MV: groups live in a joined dim; a delete that
    empties a dim group drops it from the view."""
    from walmart_project_etl_spark.operators.matview import refresh_agg_mv
    from walmart_project_etl_spark.sources.txlog import TxTable

    dim = spark.createDataFrame(
        [(1, "red"), (2, "blue"), (3, "red")], "k long, color string")
    facts = spark.createDataFrame(
        [(10, 1, 5.0), (11, 2, 7.0), (12, 3, 9.0), (13, 2, 1.0)],
        "fid long, k long, amt double")
    src = TxTable(spark, str(tmp_path / "src"))
    src.create(facts, "fid", change_feed=True)

    def enrich(df):
        return df.join(F.broadcast(dim), "k")

    mv_root = str(tmp_path / "mv")
    refresh_agg_mv(spark, src, mv_root, ["color"], "amt", enrich=enrich)
    # delete BOTH blue facts -> the blue group must vanish from the MV
    src.delete_keys(spark.createDataFrame([(11,), (13,)], "fid long"))
    mv = refresh_agg_mv(spark, src, mv_root, ["color"], "amt",
                        enrich=enrich)
    rows = {r["color"]: (r["n_rows"], float(r["total"]))
            for r in mv.snapshot().collect()}
    assert rows == {"red": (2, 14.0)}


def test_scd2_from_changes_versions_and_tombstones(spark, tmp_path):
    from walmart_project_etl_spark.operators.scd2 import scd2_from_changes
    from walmart_project_etl_spark.sources.txlog import TxTable
    t0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, val string")
    src = TxTable(spark, str(tmp_path / "s"))
    src.create(t0, "k", change_feed=True)
    src.merge_upsert(spark.createDataFrame([(1, "a2")],
                                           "k long, val string"))   # v1
    src.delete_keys(spark.createDataFrame([(2,)], "k long"))         # v2
    hist = scd2_from_changes(src.snapshot(0), src.read_changes(1),
                             "k", ["val"])
    rows = {(r["k"], r["val"]): (r["eff_from"], r["eff_to"],
                                 r["is_current"])
            for r in hist.collect()}
    assert rows == {
        (1, "a"): (0, 1, False),     # superseded by the merge
        (1, "a2"): (1, None, True),  # current version
        (2, "b"): (0, 2, False),     # closed by the delete, no successor
    }
