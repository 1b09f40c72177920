"""Transaction-log table (sources/txlog.py): ACID commits, time travel,
and the file-pruned copy-on-write MERGE."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.sources.txlog import TxTable

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.fixture()
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet") \
                .select("o_orderkey", "o_custkey", "o_totalprice",
                        "o_orderstatus")


def test_create_append_snapshot(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    first = orders.where("o_orderkey % 2 = 0")
    second = orders.where("o_orderkey % 2 = 1")
    t.create(first, "o_orderkey")
    assert t.snapshot().count() == first.count()
    t.append(second)
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)
    # time travel: version 0 still reads exactly the first batch
    assert _rows(t.snapshot(0), cols) == _rows(first, cols)
    assert [h["op"] for h in t.history()] == ["create", "append"]


def test_merge_upserts_and_inserts(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    updates = (orders.where("o_orderkey % 100 = 7")
               .withColumn("o_totalprice", F.lit(1.5))
               .unionByName(orders.limit(0)
                            .unionByName(spark.createDataFrame(
                                [(999999991, 1, 2.5, "N")], orders.schema))))
    stats = t.merge_upsert(updates)
    got = t.snapshot()
    expected = (orders.join(updates.select("o_orderkey"), "o_orderkey",
                            "left_anti").unionByName(updates))
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert stats["files_rewritten"] >= 1
    # pre-merge snapshot unaffected (snapshot isolation)
    assert _rows(t.snapshot(0), cols) == _rows(orders, cols)


def test_merge_prunes_files_outside_key_range(spark, orders, tmp_path):
    """A narrow update batch must rewrite ONLY the file(s) whose key range
    intersects it — the surviving files stay live BY PATH (never
    rewritten), which is the whole point vs whole-table MERGE emulation."""
    t = TxTable(spark, str(tmp_path / "t"))
    # force several files with disjoint tight ranges
    t.create(orders, "o_orderkey", n_files=8)
    _, live_before = t._state()
    assert len(live_before) >= 4, "fixture needs multiple files"
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    updates = orders.where(F.col("o_orderkey") <= lo + 5) \
                    .withColumn("o_totalprice", F.lit(9.25))
    stats = t.merge_upsert(updates)
    _, live_after = t._state()
    surviving = set(live_before) & set(live_after)
    assert stats["files_untouched"] >= len(live_before) - 2
    assert len(surviving) == stats["files_untouched"]
    # correctness on top of pruning
    cols = ["o_orderkey", "o_totalprice"]
    expected = (orders.join(updates.select("o_orderkey"), "o_orderkey",
                            "left_anti").unionByName(updates))
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)


def test_crash_leaves_uncommitted_files_invisible(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    n0 = t.snapshot().count()
    # simulate a crashed writer: data files land, no commit follows
    t._write_files(orders.limit(10), t._state()[0])
    assert t.snapshot().count() == n0          # invisible
    # default age bound protects files an in-flight writer may be about
    # to commit (they are final-named BEFORE the log commit)
    assert t.vacuum_uncommitted() == []
    removed = t.vacuum_uncommitted(older_than_s=0.0)
    assert removed and t.snapshot().count() == n0


def test_null_merge_key_rejected_at_write(spark, orders, tmp_path):
    """A NULL key would serialize kmin/kmax as JSON null and poison every
    later prune comparison — the WRITE must fail, and the table must stay
    fully usable (no orphan poisoned commit)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    bad = orders.limit(5).withColumn(
        "o_orderkey", F.when(F.col("o_custkey") >= 0, None)
                       .otherwise(F.col("o_orderkey")).cast("long"))
    with _pytest.raises(ValueError, match="NULL"):
        t.append(bad)
    with _pytest.raises(ValueError, match="NULL"):
        t.merge_upsert(bad)
    # table still healthy: merge with clean keys works
    upd = orders.limit(3).withColumn("o_totalprice", F.lit(1.0))
    t.merge_upsert(upd)
    assert t.snapshot().count() == orders.count()


def test_commit_race_detected(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10), "o_orderkey")
    # another writer publishes version 1 first
    assert t._commit([{"op": "append"}], 1)
    # our stale commit for the same version must lose, not overwrite
    assert not t._commit([{"op": "append"}], 1)
    assert [h["version"] for h in t.history()] == [0, 1]


def test_bloom_prunes_within_range_files(spark, orders, tmp_path):
    """Update keys at BOTH ends of the key space make range-only pruning
    useless (every file's [kmin, kmax] is inside the update span) — the
    per-file bloom must still prune the middle files that provably lack
    the keys."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8)
    _, live = t._state()
    assert len(live) >= 6
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    updates = orders.where(F.col("o_orderkey").isin([lo, hi])) \
                    .withColumn("o_totalprice", F.lit(3.75))
    stats = t.merge_upsert(updates)
    # range check alone would rewrite every file; bloom keeps it to the
    # two end files (+ the occasional false positive)
    assert stats["files_rewritten"] <= 3, stats
    assert stats["files_untouched"] >= len(live) - 3
    cols = ["o_orderkey", "o_totalprice"]
    expected = (orders.join(updates.select("o_orderkey"), "o_orderkey",
                            "left_anti").unionByName(updates))
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)


def test_checkpoint_compaction(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    batches = [orders.where(f"o_orderkey % 4 = {k}") for k in range(4)]
    t.create(batches[0], "o_orderkey")
    for b in batches[1:]:
        t.append(b)
    ck = t._checkpoint_versions()
    assert ck and max(ck) >= 2                   # compaction ran
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)
    # versions before/after a checkpoint both time-travel correctly
    assert t.snapshot(0).count() == batches[0].count()
    assert t.snapshot(2).count() == sum(b.count() for b in batches[:3])


def _tear_checkpoint(log_dir: str, v: int) -> None:
    """Cut checkpoint ``v`` in half mid-JSON (a crash mid-write)."""
    path = os.path.join(log_dir, f"{v:08d}.checkpoint.json")
    with open(path) as fh:
        text = fh.read()
    with open(path, "w") as fh:
        fh.write(text[:len(text) // 2])


def test_torn_checkpoint_falls_back_to_replay(spark, orders, tmp_path):
    """A checkpoint that does not parse is skipped: state, the txn map
    and the copy_into ledger come from the older checkpoint plus replay
    and equal the answer before the tear (commits are never deleted)."""
    land = tmp_path / "landing"
    orders.where("o_orderkey % 4 = 1").coalesce(1).write.parquet(str(land))
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    t.create(orders.where("o_orderkey % 4 = 0"), "o_orderkey", n_files=2)
    t.copy_into(str(land))                                       # v1
    t.merge_upsert(orders.where("o_orderkey % 8 = 0")
                   .withColumn("o_totalprice", F.lit(1.0)),
                   txn=("app", 1))                               # v2 ck
    t.append(orders.where("o_orderkey % 4 = 2"))                 # v3
    t.merge_upsert(orders.where("o_orderkey % 4 = 3"),
                   txn=("app", 2))                               # v4 ck
    assert t._checkpoint_versions() == [2, 4]
    cols = ["o_orderkey", "o_totalprice"]
    before = (_rows(t.snapshot(), cols), t.last_txn("app"),
              t.copied_files())
    assert before[1] == 2 and len(before[2]) == 1
    fresh = TxTable(spark, t.root)
    for v in (4, 2):              # then no usable checkpoint: full replay
        _tear_checkpoint(t.log_dir, v)
        assert (_rows(fresh.snapshot(), cols), fresh.last_txn("app"),
                fresh.copied_files()) == before
    assert fresh.last_txn("app", version=3) == 1


def test_checkpoint_is_fsynced_like_commits(spark, orders, tmp_path,
                                            monkeypatch):
    """Every log object is fsynced before it is published: a commit
    that also writes a checkpoint makes exactly two fsync calls."""
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    t.create(orders.limit(5), "o_orderkey", n_files=1)
    t.append(orders.limit(0))
    calls: list[int] = []
    real = os.fsync
    monkeypatch.setattr(os, "fsync",
                        lambda fd: (calls.append(fd), real(fd))[1])
    t.append(orders.limit(0))                    # v2 + its checkpoint
    assert t._checkpoint_versions() == [2]
    assert len(calls) == 2, calls


def test_scd1_merge_tx_matches_full_rewrite(spark, tmp_path):
    """SCD1 MERGE through the tx table (only touched rows computed and
    committed, file-pruned) must produce the same dimension as the
    full-table scd1_merge rewrite — while leaving untouched files live."""
    from walmart_project_etl_spark.operators.merge import (scd1_merge,
                                                           scd1_merge_tx)
    now1 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    now2 = F.lit("2026-02-01 00:00:00").cast("timestamp")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
             .selectExpr("c_custkey AS ck", "c_name", "c_acctbal")
    batch1 = c.select("ck", "c_name", "c_acctbal")
    dim0 = scd1_merge(None, batch1, "ck", ["c_name", "c_acctbal"],
                      "sk", now1)
    t = TxTable(spark, str(tmp_path / "dim"))
    t.create(dim0, "ck", n_files=6)
    _, live0 = t._state()

    lo = c.agg(F.min("ck")).first()[0]
    batch2 = (c.where(F.col("ck") <= lo + 10)
              .withColumn("c_acctbal", F.lit(1.25))
              .unionByName(spark.createDataFrame(
                  [(987654321, "NEW CUSTOMER", 5.5)], batch1.schema)))
    stats = scd1_merge_tx(t, batch2, "ck", ["c_name", "c_acctbal"],
                          "sk", now2)
    expected = scd1_merge(dim0, batch2, "ck", ["c_name", "c_acctbal"],
                          "sk", now2)
    cols = ["sk", "ck", "c_name", "c_acctbal", "insertion_date",
            "modification_date"]
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    # narrow batch -> most dimension files never rewritten
    assert stats["files_untouched"] >= len(live0) - 3, (stats, len(live0))


def test_read_keys_skips_files(spark, orders, tmp_path):
    """A point/narrow-range read must scan only the intersecting files
    (observable via inputFiles), with exact results."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8)
    _, live = t._state()
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    narrow = t.read_keys(lo, lo + 3)
    assert len(narrow.inputFiles()) <= 2 < len(live)
    cols = ["o_orderkey", "o_totalprice"]
    expected = orders.where(F.col("o_orderkey").between(lo, lo + 3))
    assert _rows(narrow, cols) == _rows(expected, cols)
    # unbounded side + empty range
    assert t.read_keys(hi=lo).count() == \
        orders.where(f"o_orderkey <= {lo}").count()
    assert t.read_keys(10**15, 10**15 + 1).count() == 0


def test_append_schema_mismatch_raises(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(20), "o_orderkey")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(orders.limit(5).drop("o_orderstatus"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge_upsert(orders.limit(5)
                       .withColumn("extra", F.lit(1)))


def test_compact_bin_packs_without_row_changes(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.where("o_orderkey % 3 = 0"), "o_orderkey", n_files=4)
    t.append(orders.where("o_orderkey % 3 = 1"))
    t.append(orders.where("o_orderkey % 3 = 2"))
    _, live0 = t._state()
    before = _rows(t.snapshot(), ["o_orderkey", "o_totalprice"])
    stats = t.compact(target_rows=10_000)         # everything is "small"
    _, live1 = t._state()
    assert stats["files_in"] == len(live0) and stats["files_out"] >= 1
    assert len(live1) < len(live0)
    assert _rows(t.snapshot(), ["o_orderkey", "o_totalprice"]) == before
    # pre-compaction version still reads the OLD files (time travel)
    v_before = t.versions()[-2]
    assert t.snapshot(v_before).count() == len(before)
    # and stats tightened: compacted files have disjoint ranges
    ks = sorted((a["kmin"], a["kmax"]) for a in live1.values())
    assert all(ks[i][1] <= ks[i + 1][0] for i in range(len(ks) - 1))


def test_delete_keys_pruned_and_exact(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8)
    _, live0 = t._state()
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    doomed = orders.where(F.col("o_orderkey") <= lo + 7) \
                   .select("o_orderkey")
    stats = t.delete_keys(doomed)
    assert stats["files_untouched"] >= len(live0) - 2
    cols = ["o_orderkey", "o_totalprice"]
    expected = orders.join(doomed, "o_orderkey", "left_anti")
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    # deleting absent keys touches nothing
    ghost = spark.createDataFrame([(10**15,)], "o_orderkey long")
    s2 = t.delete_keys(ghost)
    assert s2["files_rewritten"] == 0


@pytest.mark.parametrize("seed", [1234, 777])
def test_model_based_random_operation_sequence(spark, tmp_path, seed):
    """Model check: a deterministic pseudo-random sequence of
    append / merge_upsert / delete_keys / compact operations against an
    in-memory dict model — after every step the table snapshot must
    equal the model exactly, and every historical version must still
    time-travel to its recorded state."""
    import random

    rng = random.Random(seed)
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    model: dict[int, float] = {}

    def df_of(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "k long, v double")

    def snap_rows():
        return {r["k"]: r["v"] for r in t.snapshot().collect()}

    init = {k: float(k) for k in rng.sample(range(1000), 40)}
    t.create(df_of(init.items()), "k", n_files=4)
    model.update(init)
    versioned = {t.versions()[-1]: dict(model)}
    for step in range(10):
        op = rng.choice(["append", "merge", "delete", "compact",
                         "delete_dv", "purge", "restore"])
        if op == "append":
            new = {k: float(step) for k in rng.sample(range(2000, 3000), 10)
                   if k not in model}
            t.append(df_of(new.items()))
            model.update(new)
        elif op == "merge":
            keys = rng.sample(sorted(model), 5) + \
                rng.sample(range(5000, 6000), 3)
            ups = {k: step + 0.5 for k in keys}
            t.merge_upsert(df_of(ups.items()))
            model.update(ups)
        elif op == "delete":
            doomed = rng.sample(sorted(model), min(4, len(model)))
            t.delete_keys(df_of((k, 0.0) for k in doomed).select("k"))
            for k in doomed:
                model.pop(k)
        elif op == "delete_dv":
            # merge-on-read delete: mixes with every other op freely
            doomed = rng.sample(sorted(model), min(3, len(model)))
            t.delete_keys_dv(df_of((k, 0.0) for k in doomed).select("k"))
            for k in doomed:
                model.pop(k)
        elif op == "purge":
            t.purge_deletes()
        elif op == "restore":
            tgt = rng.choice(sorted(versioned))
            t.restore(tgt)
            model = dict(versioned[tgt])
        else:
            t.compact(target_rows=100)
        assert snap_rows() == model, f"divergence after step {step}: {op}"
        versioned[t.versions()[-1]] = dict(model)  # no-op ops reuse a version
    # every recorded version still time-travels to its state
    for v, expected in versioned.items():
        got = {r["k"]: r["v"] for r in t.snapshot(v).collect()}
        assert got == expected, f"time travel broken at version {v}"


def test_scd2_merge_tx_matches_full_rewrite_and_preserves_files(
        spark, tmp_path):
    """SCD2 through the tx table: run 2's expiry UPDATE + versioned
    INSERT must land as ONE commit whose result equals the full-table
    scd2_apply rewrite — and every file outside the update's key range
    must survive the commit BYTE-IDENTICAL (content hash compared, not
    just path survival)."""
    import hashlib

    from walmart_project_etl_spark.operators.scd2 import (scd2_apply,
                                                          scd2_merge_tx)

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
             .selectExpr("c_custkey AS ck", "c_name", "c_acctbal AS bal")
    tracked = ["c_name", "bal"]
    src1 = c.select("ck", *tracked)
    dim1 = scd2_apply(None, src1, "ck", tracked, "sk", "2026-01-02",
                      F.lit("2026-01-02 00:00:00").cast("timestamp"))
    t = TxTable(spark, str(tmp_path / "dim"))
    t.create(dim1, "ck", n_files=6)
    _, live0 = t._state()
    data_dir = str(tmp_path / "dim" / "files")

    def digests():
        return {n: hashlib.md5(open(os.path.join(data_dir, n), "rb").read())
                .hexdigest() for n in os.listdir(data_dir)
                if n.endswith(".parquet")}

    before = digests()
    lo = c.agg(F.min("ck")).first()[0]
    # narrow batch: a few changed keys + one brand-new key
    src2 = (c.where(F.col("ck") <= lo + 8)
            .select("ck", "c_name", (F.col("bal") + 9).alias("bal"))
            .unionByName(spark.createDataFrame(
                [(987654321, "NEW CUSTOMER", 1.5)], src1.schema)))
    stats = scd2_merge_tx(t, src2, "ck", tracked, "sk", "2026-02-01",
                          F.lit("2026-02-01 00:00:00").cast("timestamp"))
    expected = scd2_apply(dim1, src2, "ck", tracked, "sk", "2026-02-01",
                          F.lit("2026-02-01 00:00:00").cast("timestamp"))
    cols = ["sk", "ck", "c_name", "bal", "effective_date", "expiry_date",
            "is_current", "version", "insertion_date", "modification_date"]
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    # one atomic commit carried the whole expiry+insert transaction
    assert t.history()[-1]["op"] == "merge"
    # untouched files: live by path AND byte-identical by content
    _, live1 = t._state()
    surviving = set(live0) & set(live1)
    assert stats["files_untouched"] >= len(live0) - 3, (stats, len(live0))
    after = digests()
    for name in surviving:
        assert after[name] == before[name], f"file {name} mutated"


def test_stats_col_date_band_skips_files(spark, tmp_path):
    """Second-column data skipping: a table declaring a stats column
    (the BI date) and ingested in date-clustered batches must answer a
    date-band query by scanning ONLY the matching batches' files — and
    the stats must survive rewrites (merge threads stats_cols through)."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
             .select("o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderdate")
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(o.where("o_orderdate <  TIMESTAMP '1996-01-01'"),
             "o_orderkey", n_files=2, stats_cols=["o_orderdate"])
    t.append(o.where("o_orderdate >= TIMESTAMP '1996-01-01' AND "
                     "o_orderdate < TIMESTAMP '1997-01-01'"))
    t.append(o.where("o_orderdate >= TIMESTAMP '1997-01-01'"))
    _, live = t._state()
    assert all("o_orderdate" in a["cstats"] for a in live.values())
    band = t.read_stats_range("1996-01-01 00:00:00", "1996-12-31 23:59:59")
    assert 0 < len(band.inputFiles()) < len(live)
    cols = ["o_orderkey", "o_totalprice"]
    expected = o.where("o_orderdate >= TIMESTAMP '1996-01-01' AND "
                       "o_orderdate < TIMESTAMP '1997-01-01'")
    assert _rows(band, cols) == _rows(expected, cols)
    # a merge rewrite keeps per-file stats on the NEW files too
    upd = o.limit(5).withColumn("o_totalprice", F.lit(2.5))
    t.merge_upsert(upd)
    _, live2 = t._state()
    assert all("o_orderdate" in a["cstats"] for a in live2.values())
    # unbounded side + empty band
    assert t.read_stats_range(lo="1997-01-01 00:00:00").count() == \
        o.where("o_orderdate >= TIMESTAMP '1997-01-01'").count()
    assert t.read_stats_range("2090-01-01 00:00:00",
                              "2091-01-01 00:00:00").count() == 0


def test_schema_evolution_add_columns(spark, orders, tmp_path):
    """Explicit additive evolution: a metadata-only commit adds nullable
    columns; pre-evolution files read as NULL, pre-evolution versions
    time-travel to the OLD schema, post-evolution writers must carry the
    new columns, and merges across the boundary keep old rows' NULLs."""
    t = TxTable(spark, str(tmp_path / "t"))
    base = orders.where("o_orderkey % 2 = 0")
    t.create(base, "o_orderkey", n_files=4)
    v_before = t.versions()[-1]
    t.add_columns({"band": "string"})
    assert t.history()[-1]["op"] == "evolve"
    # old files surface the new column as NULL
    snap = t.snapshot()
    assert "band" in snap.columns
    assert snap.where("band IS NOT NULL").count() == 0
    # time travel before the evolve still shows the old schema
    assert "band" not in t.snapshot(v_before).columns
    # writers must adopt the new schema (drift still rejected both ways)
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(orders.where("o_orderkey % 2 = 1"))
    newbie = orders.where("o_orderkey % 2 = 1") \
                   .withColumn("band", F.substring("o_orderstatus", 1, 1))
    t.append(newbie)
    # merge touching PRE-evolution rows: untouched old rows keep NULL
    lo = base.agg(F.min("o_orderkey")).first()[0]
    upd = base.where(F.col("o_orderkey") <= lo + 4) \
              .withColumn("band", F.lit("Z"))
    t.merge_upsert(upd)
    got = t.snapshot()
    assert got.count() == orders.count()
    assert got.where("band = 'Z'").count() == upd.count()
    n_old_untouched = base.count() - upd.count()
    assert got.where("band IS NULL").count() == n_old_untouched
    # duplicate add refused
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"band": "string"})


def test_catalog_create_list_drop_and_races(spark, orders, tmp_path):
    """TxCatalog: consistent listings from the catalog's own commit log,
    name collisions rejected, drop is logged (audit dir survives until
    purge), recreate requires the purge, and a lost catalog-log race
    never overwrites a committed version."""
    from walmart_project_etl_spark.sources.txlog import TxCatalog
    cat = TxCatalog(spark, str(tmp_path / "cat"))
    assert cat.list_tables() == []
    cat.create_table("orders_t", orders, "o_orderkey", n_files=2)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
                .select("c_custkey", "c_name")
    cat.create_table("customer_t", cust, "c_custkey")
    assert cat.list_tables() == ["customer_t", "orders_t"]
    # reads go through the normal TxTable machinery
    assert cat.table("orders_t").snapshot().count() == orders.count()
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("orders_t", orders, "o_orderkey")
    with pytest.raises(ValueError, match="bad table name"):
        cat.create_table("../evil", orders, "o_orderkey")
    # drop: name gone from listings, directory kept for audit
    cat.drop_table("customer_t")
    assert cat.list_tables() == ["orders_t"]
    with pytest.raises(KeyError):
        cat.table("customer_t")
    with pytest.raises(ValueError, match="purge"):
        cat.create_table("customer_t", cust, "c_custkey")
    cat.drop_table("orders_t", purge=True)
    assert cat.list_tables() == []
    cat.create_table("orders_t", orders.limit(5), "o_orderkey")  # recreate ok
    assert cat.table("orders_t").snapshot().count() == 5
    # catalog log race: a stale commit for a published version loses
    v = cat._versions()[-1]
    assert not cat._commit({"op": "drop_table", "name": "orders_t"}, v)
    assert cat.list_tables() == ["orders_t"]


def test_vacuum_version_retention(spark, orders, tmp_path):
    """VACUUM with version retention: files live in NO retained version
    are physically reclaimed; every retained version still time-travels
    exactly; pre-horizon versions lose their files (the documented
    contract)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=6)
    for i in range(3):          # three merges, each orphaning old files
        upd = orders.limit(20).withColumn("o_totalprice", F.lit(float(i)))
        t.merge_upsert(upd)
    vs = t.versions()
    n_files_before = len(os.listdir(str(tmp_path / "t" / "files")))
    cols = ["o_orderkey", "o_totalprice"]
    latest_rows = _rows(t.snapshot(), cols)
    prev_rows = _rows(t.snapshot(vs[-2]), cols)
    res = t.vacuum(retain_versions=2)
    assert res["removed"] >= 1
    assert res["horizon"] == vs[-2]
    n_files_after = len(os.listdir(str(tmp_path / "t" / "files")))
    assert n_files_after < n_files_before
    # both retained versions still read exactly
    assert _rows(t.snapshot(), cols) == latest_rows
    assert _rows(t.snapshot(vs[-2]), cols) == prev_rows
    # the pre-horizon version lost files (reads must fail, not lie)
    import pytest as _pytest
    with _pytest.raises(Exception):
        t.snapshot(0).count()
    # retention covering everything is a no-op
    assert t.vacuum(retain_versions=100)["removed"] == 0


def test_concurrent_writers_optimistic_retry(spark, tmp_path):
    """REAL concurrency: two writer threads race appends and merges on
    one table. The os.link commit protocol must serialize them — no
    version collisions, no lost updates: the final snapshot equals the
    union of both writers' disjoint appends with every merge's final
    value, and the log is a gap-free version sequence."""
    import threading

    t = TxTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([(k, 0.0) for k in range(100)],
                                 "k long, v double")
    t.create(base, "k", n_files=4)
    errors: list[Exception] = []

    def writer(tag: int) -> None:
        try:
            w = TxTable(spark, str(tmp_path / "t"))   # own handle
            # disjoint appends (no logical conflict, only commit races)
            w.append(spark.createDataFrame(
                [(1000 + tag * 100 + i, float(tag)) for i in range(20)],
                "k long, v double"))
            # overlapping merges (same keys — last committed wins is fine;
            # we assert only that SOME writer's value landed atomically)
            w.merge_upsert(spark.createDataFrame(
                [(k, 10.0 + tag) for k in range(10)], "k long, v double"))
            w.append(spark.createDataFrame(
                [(2000 + tag * 100 + i, float(tag)) for i in range(20)],
                "k long, v double"))
        except Exception as e:       # surface failures to the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(tag,))
               for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    vs = t.versions()
    assert vs == list(range(len(vs)))            # gap-free serial history
    assert len(vs) == 1 + 6                      # create + 2x(2 appends+merge)
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert len(rows) == 100 + 2 * 40             # no lost appends
    for tag in (1, 2):
        for i in range(20):
            assert rows[1000 + tag * 100 + i] == float(tag)
            assert rows[2000 + tag * 100 + i] == float(tag)
    # merges serialized atomically: whichever merge committed later owns
    # ALL ten keys — one uniform value, never a torn mix
    merged = {rows[k] for k in range(10)}
    assert len(merged) == 1 and merged <= {11.0, 12.0}, merged


def test_read_matching_prunes_and_is_exact(spark, orders, tmp_path):
    """read_matching: a scattered key-set lookup must scan only the
    files whose range+bloom can contain a requested key (observable via
    inputFiles), with exact results — including absent keys."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=8)
    _, live = t._state()
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    # keys at both ends: range pruning alone keeps every file; the bloom
    # must cut the middle ones
    keys = spark.createDataFrame([(lo,), (hi,), (10**15,)],
                                 "o_orderkey long")
    got = t.read_matching(keys)
    assert len(got.inputFiles()) <= 3 < len(live)
    cols = ["o_orderkey", "o_totalprice"]
    expected = orders.where(F.col("o_orderkey").isin([lo, hi]))
    assert _rows(got, cols) == _rows(expected, cols)
    # empty key set reads nothing
    assert t.read_matching(orders.select("o_orderkey").limit(0)).count() == 0


def test_model_schema_evolution_interleaved_with_checkpoints(spark, tmp_path):
    """Model check for EVOLUTION: add_columns interleaved with
    appends/merges under a small checkpoint interval — after every step
    the snapshot must equal the dict model (absent columns NULL for
    pre-evolution rows), and every historical version must time-travel
    to BOTH its recorded rows and its recorded schema width."""
    import random

    rng = random.Random(4242)
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    cols = ["k", "v"]
    model: dict[int, dict] = {}

    def df_of(rows: list[dict]):
        schema = ", ".join(f"{c} {'long' if c == 'k' else 'double'}"
                           for c in cols)
        return spark.createDataFrame(
            [tuple(d.get(c) for c in cols) for d in rows], schema)

    def snap_rows(v=None):
        return {r["k"]: {c: r[c] for c in r.asDict() if c != "k"}
                for r in t.snapshot(v).collect()}

    init = [{"k": k, "v": float(k)} for k in rng.sample(range(500), 30)]
    t.create(df_of(init), "k", n_files=3)
    model.update({d["k"]: {c: d.get(c) for c in cols if c != "k"}
                  for d in init})
    def deep(m):
        return {k: dict(d) for k, d in m.items()}

    versioned = {t.versions()[-1]: (list(cols), deep(model))}
    n_evolved = 0
    for step in range(8):
        op = rng.choice(["append", "merge", "evolve"])
        if op == "evolve" and n_evolved < 3:
            n_evolved += 1
            name = f"e{n_evolved}"
            t.add_columns({name: "double"})
            cols.append(name)
            for d in model.values():      # old rows read the column NULL
                d[name] = None
        elif op == "append":
            rows = [{"k": k, "v": float(step),
                     **{c: step + 0.25 for c in cols if c.startswith("e")}}
                    for k in rng.sample(range(1000, 1500), 8)
                    if k not in model]
            t.append(df_of(rows))
            model.update({d["k"]: {c: d.get(c) for c in cols if c != "k"}
                          for d in rows})
        else:
            keys = rng.sample(sorted(model), 4)
            rows = [{"k": k, "v": step - 0.5,
                     **{c: float(step) for c in cols if c.startswith("e")}}
                    for k in keys]
            t.merge_upsert(df_of(rows))
            model.update({d["k"]: {c: d.get(c) for c in cols if c != "k"}
                          for d in rows})
        assert snap_rows() == model, f"divergence after step {step}: {op}"
        versioned[t.versions()[-1]] = (list(cols), deep(model))
    assert n_evolved >= 1, "seed must exercise evolution"
    for v, (cols_v, model_v) in versioned.items():
        got = t.snapshot(v)
        assert got.columns == cols_v, f"schema drift at version {v}"
        rows_v = {r["k"]: {c: r[c] for c in r.asDict() if c != "k"}
                  for r in got.collect()}
        assert rows_v == model_v, f"time travel broken at version {v}"


def test_scd2_merge_tx_read_side_prunes_files(spark, tmp_path):
    """The SCD2 tx read side must be file-pruned (VERDICT r7 #1): a
    narrow batch against a many-file dimension fetches its affected
    version sets through read_matching, scanning FEWER files than the
    live set — not a full snapshot scan per load."""
    from walmart_project_etl_spark.operators.scd2 import (scd2_apply,
                                                          scd2_merge_tx)

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
             .selectExpr("c_custkey AS ck", "c_name", "c_acctbal AS bal")
    tracked = ["c_name", "bal"]
    dim1 = scd2_apply(None, c.select("ck", *tracked), "ck", tracked,
                      "sk", "2026-01-02",
                      F.lit("2026-01-02 00:00:00").cast("timestamp"))
    t = TxTable(spark, str(tmp_path / "dim"))
    t.create(dim1, "ck", n_files=10)
    _, live = t._state()

    scanned: list[int] = []
    orig = t.read_matching

    def spying_read_matching(keys, version=None):
        out = orig(keys, version)
        scanned.append(len(out.inputFiles()))
        return out

    t.read_matching = spying_read_matching
    lo = c.agg(F.min("ck")).first()[0]
    src2 = (c.where(F.col("ck") <= lo + 4)
            .select("ck", "c_name", (F.col("bal") + 1).alias("bal")))
    scd2_merge_tx(t, src2, "ck", tracked, "sk", "2026-02-01",
                  F.lit("2026-02-01 00:00:00").cast("timestamp"))
    # the read side went through read_matching and pruned files
    assert scanned, "scd2_merge_tx no longer reads via read_matching"
    assert scanned[0] < len(live), (scanned, len(live))
    # and the result still matches the full rewrite
    expected = scd2_apply(dim1, src2, "ck", tracked, "sk", "2026-02-01",
                          F.lit("2026-02-01 00:00:00").cast("timestamp"))
    cols = ["sk", "ck", "c_name", "bal", "effective_date", "expiry_date",
            "is_current", "version"]
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)


def test_catalog_checkpoint_bounds_listing_replay(spark, orders, tmp_path):
    """The catalog log gets the same O(recent) discipline as the table
    log (VERDICT r7 task 6): after many create/drop operations a
    checkpoint exists, a FRESH catalog instance lists correctly from it,
    and the listing replays only the commits AFTER the newest checkpoint
    — not the whole catalog history."""
    from walmart_project_etl_spark.sources.txlog import TxCatalog
    small = orders.limit(3)
    cat = TxCatalog(spark, str(tmp_path / "cat"), checkpoint_interval=4)
    # 13 catalog commits: create t0..t7, publish a txn write to t0,
    # drop/purge t1 t3 t5, create t8 — checkpoints at 4, 8 and 12
    for i in range(8):
        cat.create_table(f"t{i}", small, "o_orderkey", n_files=1)
    with cat.begin() as txn:
        txn.table("t0").append(small)
    for i in (1, 3, 5):
        cat.drop_table(f"t{i}", purge=True)
    cat.create_table("t8", small, "o_orderkey", n_files=1)
    assert cat._ck_versions(), "no catalog checkpoint written"
    expect = ["t0", "t2", "t4", "t6", "t7", "t8"]
    assert cat.list_tables() == expect

    fresh = TxCatalog(spark, str(tmp_path / "cat"), checkpoint_interval=4)
    opened: list[str] = []
    real_open = open

    def spying_open(path, *a, **kw):
        opened.append(os.path.basename(str(path)))
        return real_open(path, *a, **kw)

    import builtins
    import unittest.mock as mock
    with mock.patch.object(builtins, "open", spying_open):
        assert fresh.list_tables() == expect
    commits_read = [f for f in opened
                    if f.endswith(".json") and not f.endswith(".checkpoint.json")]
    n_commits = len(fresh._versions())
    assert len(commits_read) < n_commits, (commits_read, n_commits)
    assert any(f.endswith(".checkpoint.json") for f in opened)
    # time-travel discipline intact: checkpoint content is deterministic,
    # a re-written checkpoint for the same version is harmless
    fresh._maybe_checkpoint(max(fresh._ck_versions()))
    assert fresh.list_tables() == expect
    # a torn newest checkpoint is skipped: the older one (which holds
    # the published pin) plus replay gives the same listing and pins
    assert fresh._pins() == ({"t0": 1}, {txn.id})
    _tear_checkpoint(fresh.log_dir, max(fresh._ck_versions()))
    torn = TxCatalog(spark, str(tmp_path / "cat"), checkpoint_interval=4)
    assert torn.list_tables() == expect
    assert torn._pins() == ({"t0": 1}, {txn.id})


def test_over_cap_keyset_prunes_in_plan(spark, tmp_path, monkeypatch):
    """A key set LARGER than ``_BLOOM_PROBE_CAP`` must still get
    bloom/range-grade file pruning (VERDICT r8 task 4): the decision
    moves in-plan (per-file stats broadcast against the keys DataFrame)
    instead of falling back to range-only pruning. Pinned with >100k
    REAL distinct keys against the REAL cap — two key clusters at
    opposite ends of the table's key space, which the old global-range
    fallback could not prune at all."""
    import walmart_project_etl_spark.sources.txlog as txmod

    t = TxTable(spark, str(tmp_path / "t"))
    # 40 files over keys [0, 40000): each file spans ~1000 keys
    t.create(spark.range(0, 40_000).selectExpr("id AS k", "id * 2 AS v"),
             "k", n_files=40)
    _, live = t._state()
    assert len(live) == 40
    # >100k distinct keys: low cluster [0, 3000) that exists, plus a
    # high cluster [90000, 190000) mostly beyond the table — global
    # range [0, 190000) covers every file, per-key range does not
    keys = spark.range(0, 3_000).union(spark.range(90_000, 190_000)) \
                .selectExpr("id AS k")
    n_keys = keys.distinct().count()
    assert n_keys > txmod._BLOOM_PROBE_CAP  # the real cap, no patching

    got = t.read_matching(keys)
    assert len(got.inputFiles()) < len(live) // 2, \
        f"over-cap read scanned {len(got.inputFiles())} of {len(live)}"
    assert sorted(r["k"] for r in got.collect()) == list(range(3_000))

    # tier equivalence: the in-plan pruner (forced via a tiny cap) picks
    # exactly the same files as the driver-side under-cap pruner
    small = spark.range(0, 500).union(spark.range(38_500, 39_000)) \
                 .selectExpr("id AS k")
    under = t._key_pruner(small, "k")(list(live.values()))
    monkeypatch.setattr(txmod, "_BLOOM_PROBE_CAP", 10)
    over = t._key_pruner(small, "k")(list(live.values()))
    assert sorted(a["path"] for a in under) == \
        sorted(a["path"] for a in over)
    assert 0 < len(under) < len(live)


def test_over_cap_merge_still_prunes_and_is_exact(spark, tmp_path,
                                                  monkeypatch):
    """merge_upsert with an over-cap update key set: the in-plan pruner
    limits the rewrite to the files that can hold an update key, and the
    merged table is row-for-row what the unpruned semantics say."""
    import walmart_project_etl_spark.sources.txlog as txmod

    t = TxTable(spark, str(tmp_path / "t"))
    base = spark.range(0, 20_000).selectExpr("id AS k", "id * 2 AS v")
    t.create(base, "k", n_files=20)
    updates = spark.range(0, 1_000).selectExpr("id AS k", "id * 3 AS v")
    monkeypatch.setattr(txmod, "_BLOOM_PROBE_CAP", 100)  # force in-plan
    stats = t.merge_upsert(updates)
    assert stats["files_rewritten"] < stats["files_scanned"]
    expected = base.join(updates.select("k"), "k", "left_anti") \
                   .unionByName(updates)
    assert _rows(t.snapshot(), ["k", "v"]) == _rows(expected, ["k", "v"])


def test_stats_cols_list_prunes_on_second_column(spark, tmp_path):
    """Multi-column data skipping (VERDICT r8 task 5): a table declaring
    stats_cols=[date, custkey-band] prunes read_stats_range on EITHER
    column — file-count asserted — and merges thread the full column
    list through to rewritten files."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
             .select("o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderdate")
    t = TxTable(spark, str(tmp_path / "t"))
    # batches clustered on BOTH date and custkey band so each column's
    # per-file stats are selective
    t.create(o.where("o_orderdate < TIMESTAMP '1996-01-01' "
                     "AND o_custkey < 75"),
             "o_orderkey", n_files=2,
             stats_cols=["o_orderdate", "o_custkey"])
    t.append(o.where("o_orderdate >= TIMESTAMP '1996-01-01' "
                     "AND o_custkey < 75"))
    t.append(o.where("o_custkey >= 75"))
    _, live = t._state()
    assert all(set(a["cstats"]) == {"o_orderdate", "o_custkey"}
               for a in live.values())

    # prune on the SECOND declared (non-key, non-first) column
    hi = t.read_stats_range(lo=75, col="o_custkey")
    assert 0 < len(hi.inputFiles()) < len(live)
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(hi, cols) == _rows(o.where("o_custkey >= 75"), cols)

    # prune on the first column still works (default col)
    early = t.read_stats_range(hi="1995-12-31 23:59:59")
    assert 0 < len(early.inputFiles()) < len(live)
    assert _rows(early, cols) == \
        _rows(o.where("o_orderdate < TIMESTAMP '1996-01-01'"), cols)

    # a merge rewrite keeps the full per-column stats on new files
    upd = o.limit(5).withColumn("o_totalprice", F.lit(2.5))
    t.merge_upsert(upd)
    _, live2 = t._state()
    assert all("cstats" in a
               and set(a["cstats"]) == {"o_orderdate", "o_custkey"}
               for a in live2.values())
    assert _rows(t.read_stats_range(lo=75, col="o_custkey"),
                 ["o_orderkey"]) == \
        _rows(o.where("o_custkey >= 75"), ["o_orderkey"])

    # undeclared column refuses with a clear error
    with pytest.raises(ValueError, match="carries no stats"):
        t.read_stats_range(lo=1, col="o_totalprice")


def test_scd2_merge_tx_rejects_mismatched_key(spark, tmp_path):
    """ADVICE r8: scd2_merge_tx must fail FAST with a clear message when
    the passed key differs from the table's merge key (read_matching
    projects the table's key_col, so the old failure was an opaque
    AnalysisException deep in the plan)."""
    from walmart_project_etl_spark.operators.scd2 import (scd2_apply,
                                                          scd2_merge_tx)

    src = spark.range(0, 50).selectExpr("id AS ck", "CAST(id AS STRING) v")
    dim = scd2_apply(None, src, "ck", ["v"], "sk", "2026-01-01",
                     F.lit("2026-01-01 00:00:00").cast("timestamp"))
    t = TxTable(spark, str(tmp_path / "dim"))
    t.create(dim, "ck", n_files=2)
    with pytest.raises(ValueError, match="must equal the table's merge"):
        scd2_merge_tx(t, src.withColumnRenamed("ck", "id2"), "id2", ["v"],
                      "sk", "2026-02-01",
                      F.lit("2026-02-01 00:00:00").cast("timestamp"))


def test_optimize_zorder_multidim_prune(spark, tmp_path):
    """OPTIMIZE ZORDER: after rewriting a key-clustered table on the
    Z-value of [date, custkey], BOTH columns' band reads prune files
    (neither could before on the dimension ingest didn't cluster on),
    with zero row changes, working time travel to the pre-Z layout, and
    a correct merge afterwards (key pruning degrades to bloom tier but
    stays exact)."""
    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet") \
             .select("o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderdate")
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(o, "o_orderkey", n_files=16,
             stats_cols=["o_orderdate", "o_custkey"])
    pre_version = t.versions()[-1]
    _, live_pre = t._state()
    # key-clustered files: a custkey band can't prune at all
    assert len(t.read_stats_range(lo=1200, col="o_custkey")
               .inputFiles()) == len(live_pre)

    st = t.optimize_zorder(["o_orderdate", "o_custkey"], n_files=16)
    assert st == {"files_in": 16, "files_out": 16}
    _, live = t._state()

    ck = t.read_stats_range(lo=1200, col="o_custkey")
    assert 0 < len(ck.inputFiles()) < len(live) // 2
    assert _rows(ck, ["o_orderkey"]) == \
        _rows(o.where("o_custkey >= 1200"), ["o_orderkey"])
    dt = t.read_stats_range("1996-01-01 00:00:00", "1996-12-31 23:59:59")
    assert 0 < len(dt.inputFiles()) < len(live)
    assert _rows(dt, ["o_orderkey"]) == \
        _rows(o.where("o_orderdate >= TIMESTAMP '1996-01-01' AND "
                      "o_orderdate < TIMESTAMP '1997-01-01'"),
              ["o_orderkey"])

    # zero row changes; pre-Z version still reads the OLD file layout
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(o, cols)
    assert sorted(os.path.basename(f)
                  for f in t.snapshot(pre_version).inputFiles()) == \
        sorted(a["path"] for a in live_pre.values())
    assert t.history()[-1]["op"] == "zorder"

    # merge after zorder: correct, and the bloom tier still prunes
    upd = o.where("o_orderkey % 500 = 3") \
           .withColumn("o_totalprice", F.lit(9.75))
    stats = t.merge_upsert(upd)
    expected = o.join(upd.select("o_orderkey"), "o_orderkey", "left_anti") \
                .unionByName(upd)
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    assert stats["files_scanned"] == 16

    # refuses a column with no per-file stats, and non-arithmetic types
    with pytest.raises(ValueError, match="carry no per-file stats"):
        t.optimize_zorder(["o_totalprice"])


# ---------------------------------------------------------- partitioning


@pytest.fixture()
def part_table(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "pt"))
    t.create(orders, "o_orderkey", n_files=6, partition_by="o_orderstatus")
    return t


def test_partitioned_create_records_pure_pvals(spark, orders, part_table):
    """Every data file of a partitioned table is partition-pure and its
    add action records the typed partition value."""
    _, live = part_table._state()
    assert all("pval" in a for a in live.values())
    vals = {r["o_orderstatus"] for r in
            orders.select("o_orderstatus").distinct().collect()}
    assert {a["pval"] for a in live.values()} == vals
    for a in live.values():                      # purity, per file
        got = spark.read.parquet(
            os.path.join(part_table.data_dir, a["path"])) \
            .select("o_orderstatus").distinct().collect()
        assert [r[0] for r in got] == [a["pval"]]
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert _rows(part_table.snapshot(), cols) == _rows(orders, cols)


def test_read_partitions_prunes_files(spark, orders, part_table):
    """A one-partition read scans only that partition's files — pruning
    decided on the log alone."""
    _, live = part_table._state()
    n_f = sum(1 for a in live.values() if a["pval"] == "F")
    assert 0 < n_f < len(live)
    got = part_table.read_partitions(["F"])
    assert len(got.inputFiles()) == n_f
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(got, cols) == \
        _rows(orders.where("o_orderstatus = 'F'"), cols)
    # multi-value, and the not-partitioned error path
    both = part_table.read_partitions(["F", "P"])
    assert both.count() == orders.where("o_orderstatus != 'O'").count()
    t2 = TxTable(spark, part_table.root + "_plain")
    t2.create(orders.limit(10), "o_orderkey")
    with pytest.raises(ValueError, match="not partitioned"):
        t2.read_partitions(["F"])
    with pytest.raises(ValueError, match="not partitioned"):
        t2.replace_where("F", orders.limit(5))


def test_replace_where_atomic_overwrite(spark, orders, part_table):
    """replace_where swaps exactly one partition in one commit: results
    exact, other partitions' files untouched, time travel intact."""
    _, live0 = part_table._state()
    keep = {a["path"] for a in live0.values() if a["pval"] != "F"}
    new_f = orders.where("o_orderstatus = 'F'") \
                  .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    res = part_table.replace_where("F", new_f)
    assert res["files_removed"] == len(live0) - len(keep)
    _, live1 = part_table._state()
    assert keep <= set(live1)                   # untouched survive as-is
    assert not any(a["path"] in live1 and a["pval"] == "F"
                   for a in live0.values())     # doomed all removed
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    expected = orders.where("o_orderstatus != 'F'").unionByName(new_f)
    assert _rows(part_table.snapshot(), cols) == _rows(expected, cols)
    assert _rows(part_table.snapshot(0), cols) == _rows(orders, cols)
    assert part_table.history()[-1]["op"] == "replace_where"


def test_replace_where_rejects_stray_rows(spark, orders, part_table):
    """Rows outside the claimed partition fail BEFORE the commit and
    leave no new live files behind (Delta's replaceWhere contract)."""
    _, live0 = part_table._state()
    with pytest.raises(ValueError, match="other partitions"):
        part_table.replace_where("O", orders.limit(40))
    _, live1 = part_table._state()
    assert set(live1) == set(live0)


def test_partitioned_writes_preserve_purity(spark, orders, tmp_path):
    """merge/delete/compact/zorder on a partitioned table keep every
    file partition-pure with a recorded pval, so partition pruning never
    degrades over the table's life."""
    t = TxTable(spark, str(tmp_path / "pt2"))
    t.create(orders, "o_orderkey", n_files=6,
             partition_by="o_orderstatus", stats_cols=["o_custkey"])
    upd = orders.where("o_orderkey % 7 = 0") \
                .withColumn("o_totalprice", F.lit(1.25))
    t.merge_upsert(upd)
    t.delete_keys(orders.where("o_orderkey % 11 = 0")
                  .select("o_orderkey"))
    t.compact(target_rows=10_000)
    t.optimize_zorder(["o_custkey"], n_files=4)
    _, live = t._state()
    assert all("pval" in a for a in live.values())
    expected = orders.join(upd.select("o_orderkey"), "o_orderkey",
                           "left_anti").unionByName(upd) \
                     .where("o_orderkey % 11 != 0")
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    # pruning still works post-maintenance
    f_files = sum(1 for a in live.values() if a["pval"] == "F")
    assert len(t.read_partitions(["F"]).inputFiles()) == f_files < len(live)


def test_partitioned_null_pval_rejected(spark, orders, tmp_path):
    t = TxTable(spark, str(tmp_path / "pt3"))
    bad = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, None)
         .otherwise(F.col("o_orderstatus")))
    with pytest.raises(ValueError, match="partition column"):
        t.create(bad, "o_orderkey", partition_by="o_orderstatus")


def test_replace_where_cdf_capture(spark, orders, tmp_path):
    """With change_feed=True, a replace_where lands in the change feed
    as delete(old partition rows) + insert(new rows), consumable by the
    same read_changes stream as merges and deletes."""
    t = TxTable(spark, str(tmp_path / "pt4"))
    t.create(orders, "o_orderkey", n_files=4,
             partition_by="o_orderstatus", change_feed=True)
    new_f = orders.where("o_orderstatus = 'P'") \
                  .withColumn("o_totalprice", F.lit(3.5))
    t.replace_where("P", new_f)
    ch = t.read_changes(since_version=1)
    dels = ch.where("_change_type = 'delete'")
    ins = ch.where("_change_type = 'insert'")
    assert dels.count() == orders.where("o_orderstatus = 'P'").count()
    assert ins.count() == new_f.count()
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(dels, cols) == \
        _rows(orders.where("o_orderstatus = 'P'"), cols)
    assert _rows(ins, cols) == _rows(new_f, cols)


def test_read_where_composes_all_pruning_tiers(spark, orders, tmp_path):
    """The composed reader prunes multiplicatively: partition ∧ key
    range ∧ per-column stats, each tier strictly shrinking the file
    set, with results exactly equal to the unpruned filter."""
    t = TxTable(spark, str(tmp_path / "cw"))
    t.create(orders, "o_orderkey", n_files=8,
             partition_by="o_orderstatus", stats_cols=["o_custkey"])
    # tighten custkey clustering per partition: append custkey-banded
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    mid = (lo + hi) // 2
    _, live = t._state()
    n_all = len(live)

    part_only = t.read_where(partitions=["F"])
    n_part = len(part_only.inputFiles())
    assert 0 < n_part < n_all

    part_key = t.read_where(partitions=["F"], key_hi=mid)
    n_pk = len(part_key.inputFiles())
    assert 0 < n_pk < n_part                     # second tier bites

    ck = orders.where("o_orderstatus = 'F'") \
               .agg(F.min("o_custkey")).first()[0]
    part_key_stats = t.read_where(partitions=["F"], key_hi=mid,
                                  stats={"o_custkey": (None, ck)})
    assert len(part_key_stats.inputFiles()) <= n_pk

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    expected = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") <= mid))
    assert _rows(part_key, cols) == _rows(expected, cols)
    assert _rows(part_key_stats, cols) == \
        _rows(expected.where(F.col("o_custkey") <= ck), cols)

    # the one-tier readers are read_where with that one tier: the same
    # files and the same rows — on the table above and on one whose
    # first files predate both its stats column and its partitioning
    t3 = TxTable(spark, str(tmp_path / "cw3"))
    t3.create(orders.where(F.col("o_orderkey") <= mid), "o_orderkey",
              n_files=2)
    meta = t3._state()[0]
    assert t3._commit([{"op": "evolve"},
                       {"meta": {**meta, "stats_cols": ["o_custkey"]}}], 1)
    t3.alter_partitioning("o_orderstatus")
    t3.append(orders.where(F.col("o_orderkey") > mid))
    legacy = [a["path"] for a in t3._state()[1].values() if "pby" not in a]
    assert len(legacy) == 2
    for tbl in (t, t3):
        for one, composed in (
                (tbl.read_keys(lo, mid),
                 tbl.read_where(key_lo=lo, key_hi=mid)),
                (tbl.read_keys(hi=mid), tbl.read_where(key_hi=mid)),
                (tbl.read_stats_range(None, ck, col="o_custkey"),
                 tbl.read_where(stats={"o_custkey": (None, ck)})),
                (tbl.read_stats_range(ck),
                 tbl.read_where(stats={"o_custkey": (ck, None)})),
                (tbl.read_partitions(["F"]),
                 tbl.read_where(partitions=["F"]))):
            assert set(one.inputFiles()) == set(composed.inputFiles())
            assert _rows(one, cols) == _rows(composed, cols)
    # without stats or a layout stamp, the first files are always read
    for df in (t3.read_stats_range(None, ck), t3.read_partitions(["F"])):
        assert all(any(f.endswith(p) for f in df.inputFiles())
                   for p in legacy)
    assert _rows(t3.read_partitions(["F"]), cols) == \
        _rows(orders.where("o_orderstatus = 'F'"), cols)

    # unknown stats column / partitions on an unpartitioned table
    with pytest.raises(ValueError, match="carry no stats"):
        t.read_where(stats={"o_totalprice": (0, 1)})
    t2 = TxTable(spark, str(tmp_path / "cw2"))
    t2.create(orders.limit(5), "o_orderkey")
    with pytest.raises(ValueError, match="not partitioned"):
        t2.read_where(partitions=["F"])


def test_compact_partitions_scopes_to_hot_partition(spark, orders, tmp_path):
    """Partition-scoped OPTIMIZE rewrites only the named partition's
    small files; other partitions' files are untouched — and the cold
    partitions never enter the rewrite set."""
    t = TxTable(spark, str(tmp_path / "cp"))
    t.create(orders, "o_orderkey", n_files=2, partition_by="o_orderstatus")
    # fragment the 'O' partition with narrow appends
    for i in range(3):
        t.append(orders.where(f"o_orderkey % 17 = {i}")
                 .withColumn("o_orderstatus", F.lit("O")))
    _, live0 = t._state()
    cold0 = {a["path"] for a in live0.values() if a["pval"] != "O"}
    before = _rows(t.snapshot(), ["o_orderkey", "o_orderstatus"])
    res = t.compact_partitions(["O"], target_rows=10_000)
    assert res["files_in"] >= 2
    _, live1 = t._state()
    assert {a["path"] for a in live1.values() if a["pval"] != "O"} == cold0
    assert all(a["pval"] == "O" or a["path"] in cold0
               for a in live1.values())
    assert _rows(t.snapshot(), ["o_orderkey", "o_orderstatus"]) == before
    t2 = TxTable(spark, str(tmp_path / "cp2"))
    t2.create(orders.limit(5), "o_orderkey")
    with pytest.raises(ValueError, match="not partitioned"):
        t2.compact_partitions(["O"])


def test_replace_where_empty_drops_partition(spark, orders, part_table):
    """replace_where with an empty frame is an atomic partition DROP:
    one commit, no new files, other partitions untouched."""
    empty = orders.where("1 = 0")
    res = part_table.replace_where("P", empty)
    assert res["files_added"] == 0 and res["files_removed"] >= 1
    cols = ["o_orderkey", "o_orderstatus"]
    assert _rows(part_table.snapshot(), cols) == \
        _rows(orders.where("o_orderstatus != 'P'"), cols)
    assert part_table.read_partitions(["P"]).count() == 0


# ------------------------------------------------------ deletion vectors


def test_delete_dv_zero_rewrite_and_reads_honor(spark, orders, tmp_path):
    """Merge-on-read DELETE: no data file rewritten, every read path
    (snapshot / key band / key set) hides the rows, time travel intact."""
    t = TxTable(spark, str(tmp_path / "dv"))
    t.create(orders, "o_orderkey", n_files=8)
    _, live0 = t._state()
    res = t.delete_keys_dv(orders.where("o_orderkey % 7 = 0")
                           .select("o_orderkey"))
    assert res["rows_deleted"] == orders.where("o_orderkey % 7 = 0").count()
    _, live1 = t._state()
    assert set(live1) == set(live0)              # zero files rewritten
    exp = orders.where("o_orderkey % 7 != 0")
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(exp, cols)
    assert _rows(t.snapshot(0), cols) == _rows(orders, cols)
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    assert _rows(t.read_keys(lo, lo + 50), cols) == \
        _rows(exp.where(F.col("o_orderkey").between(lo, lo + 50)), cols)
    ks = orders.where("o_orderkey % 10 = 4").select("o_orderkey")
    assert t.read_matching(ks).count() == exp.join(ks, "o_orderkey",
                                                   "semi").count()
    assert t.history()[-1]["op"] == "delete_dv"


def test_delete_dv_upsert_resurrects_and_purge_materializes(
        spark, orders, tmp_path):
    """A merge after a DV delete re-inserts the key (the merge reads
    DV-applied, so the new row lands in a DV-free file); purge_deletes
    rewrites only the dirty files and clears every DV with identical
    rows before/after."""
    t = TxTable(spark, str(tmp_path / "dv2"))
    t.create(orders, "o_orderkey", n_files=6)
    t.delete_keys_dv(orders.where("o_orderkey % 5 = 0")
                     .select("o_orderkey"))
    back = orders.where("o_orderkey % 5 = 0").limit(4) \
                 .withColumn("o_totalprice", F.lit(9.5))
    t.merge_upsert(back)
    snap = t.snapshot()
    assert snap.where("o_totalprice = 9.5").count() == 4
    expected_n = orders.where("o_orderkey % 5 != 0").count() + 4
    assert snap.count() == expected_n
    before = _rows(snap, ["o_orderkey", "o_totalprice"])
    _, live = t._state()
    dirty = sum(1 for a in live.values() if a.get("_dvs"))
    assert dirty > 0
    res = t.purge_deletes()
    assert res["files_in"] == dirty
    _, live2 = t._state()
    assert not any(a.get("_dvs") for a in live2.values())
    assert _rows(t.snapshot(), ["o_orderkey", "o_totalprice"]) == before
    # idempotent when clean
    assert t.purge_deletes() == {"files_in": 0, "files_out": 0}


def test_delete_dv_accumulates_and_survives_checkpoint(
        spark, orders, tmp_path):
    """Two DV deletes stack; the live DV attachments survive a log
    checkpoint replay (checkpoints capture the _dvs lists)."""
    t = TxTable(spark, str(tmp_path / "dv3"), checkpoint_interval=4)
    t.create(orders, "o_orderkey", n_files=4)
    t.delete_keys_dv(orders.where("o_orderkey % 7 = 0")
                     .select("o_orderkey"))
    t.delete_keys_dv(orders.where("o_orderkey % 11 = 1")
                     .select("o_orderkey"))
    for i in range(3):                       # push past the checkpoint
        t.append(orders.limit(0))
    assert t._checkpoint_versions()          # a checkpoint exists
    exp = orders.where("o_orderkey % 7 != 0 AND o_orderkey % 11 != 1")
    assert _rows(t.snapshot(), ["o_orderkey"]) == _rows(exp, ["o_orderkey"])


def test_delete_dv_vacuum_keeps_referenced_dv_files(spark, orders,
                                                    tmp_path):
    """vacuum_uncommitted never reclaims a referenced DV file, and a
    no-match DV delete is a logged no-op with no leftover file."""
    t = TxTable(spark, str(tmp_path / "dv4"))
    t.create(orders, "o_orderkey", n_files=4)
    t.delete_keys_dv(orders.where("o_orderkey % 9 = 2")
                     .select("o_orderkey"))
    assert t.vacuum_uncommitted(older_than_s=0.0) == []
    exp = orders.where("o_orderkey % 9 != 2")
    assert t.snapshot().count() == exp.count()
    # keys that exist nowhere: no commit, no dv file left behind
    import pyspark.sql.functions as SF
    ghost = spark.range(1).select(
        (SF.lit(10**12)).alias("o_orderkey"))
    assert t.delete_keys_dv(ghost) == {"files_tagged": 0,
                                       "rows_deleted": 0}
    assert t.vacuum_uncommitted(older_than_s=0.0) == []
    assert t.snapshot().count() == exp.count()


def test_delete_dv_cdf_capture(spark, orders, tmp_path):
    """With change_feed=True a DV delete lands in the change feed as
    delete rows — same stream as copy-on-write deletes."""
    t = TxTable(spark, str(tmp_path / "dv5"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    t.delete_keys_dv(orders.where("o_orderkey % 13 = 3")
                     .select("o_orderkey"))
    ch = t.read_changes(since_version=1)
    dels = ch.where("_change_type = 'delete'")
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(dels, cols) == \
        _rows(orders.where("o_orderkey % 13 = 3"), cols)


@pytest.mark.parametrize("seed", [42])
def test_model_based_partitioned_operations(spark, tmp_path, seed):
    """Model check on a PARTITIONED table: append / merge /
    replace_where / delete_dv / compact_partitions against a dict
    model, with partition purity and time travel asserted throughout."""
    import random

    rng = random.Random(seed)
    t = TxTable(spark, str(tmp_path / "pm"), checkpoint_interval=4)
    model: dict[int, tuple[str, float]] = {}
    PARTS = ["a", "b", "c"]

    def pv(k):
        return PARTS[k % 3]

    def df_of(rows):
        return spark.createDataFrame(
            [(k, p, v) for k, (p, v) in rows],
            "k long, p string, v double")

    def snap_rows():
        return {r["k"]: (r["p"], r["v"]) for r in t.snapshot().collect()}

    init = {k: (pv(k), float(k)) for k in rng.sample(range(1000), 36)}
    t.create(df_of(init.items()), "k", n_files=4, partition_by="p")
    model.update(init)
    versioned = {t.versions()[-1]: dict(model)}
    for step in range(8):
        op = rng.choice(["append", "merge", "replace_where",
                         "delete_dv", "compact_partitions"])
        if op == "append":
            new = {k: (pv(k), float(step))
                   for k in rng.sample(range(2000, 3000), 8)
                   if k not in model}
            t.append(df_of(new.items()))
            model.update(new)
        elif op == "merge":
            keys = rng.sample(sorted(model), 4) + \
                rng.sample(range(5000, 6000), 2)
            ups = {k: (pv(k), step + 0.25) for k in keys}
            t.merge_upsert(df_of(ups.items()))
            model.update(ups)
        elif op == "replace_where":
            val = rng.choice(PARTS)
            new = {k: (val, step + 0.75)
                   for k in rng.sample(range(8000, 9000), 6)}
            t.replace_where(val, df_of(new.items()))
            model = {k: r for k, r in model.items() if r[0] != val}
            model.update(new)
        elif op == "delete_dv":
            doomed = rng.sample(sorted(model), min(3, len(model)))
            t.delete_keys_dv(
                df_of((k, model[k]) for k in doomed).select("k"))
            for k in doomed:
                model.pop(k)
        else:
            t.compact_partitions([rng.choice(PARTS)], target_rows=100)
        assert snap_rows() == model, f"divergence after step {step}: {op}"
        _, live = t._state()
        assert all("pval" in a for a in live.values())
        versioned[t.versions()[-1]] = dict(model)
    for v, expected in versioned.items():
        got = {r["k"]: (r["p"], r["v"]) for r in t.snapshot(v).collect()}
        assert got == expected, f"time travel broken at version {v}"


def test_interleaved_writer_commit_fails_instead_of_losing_update(
        spark, tmp_path):
    """Lost-update guard (the other half of optimistic concurrency):
    writer A reads its snapshot, and writer B COMMITS while A is still
    writing files. A's commit must then fail-and-retry on B's state —
    never land on the stale base. Without version-pinned reads this
    interleave silently duplicated every row of the shared file and
    dropped B's update (r9 regression test; reproduced before the fix:
    75 rows, torn values)."""
    def df(pairs):
        return spark.createDataFrame(pairs, "k long, v double")

    root = str(tmp_path / "t")
    t1, t2 = TxTable(spark, root), TxTable(spark, root)
    t1.create(df([(k, 0.0) for k in range(50)]), "k", n_files=2)

    orig = t1._write_files
    fired: list[int] = []

    def hooked(*a, **kw):
        if not fired:
            fired.append(1)
            t2.merge_upsert(df([(1, 99.0)]))   # lands mid-window
        return orig(*a, **kw)

    t1._write_files = hooked                   # type: ignore[assignment]
    t1.merge_upsert(df([(0, 42.0)]))
    rows: dict[int, list[float]] = {}
    for r in t1.snapshot().collect():
        rows.setdefault(r["k"], []).append(r["v"])
    assert len(rows) == 50 and all(len(v) == 1 for v in rows.values())
    assert rows[0] == [42.0] and rows[1] == [99.0]

    # same interleave against the DV delete: the racing merge's update
    # must survive, and the DV must still hide exactly its own keys
    fired.clear()
    t1._write_files = orig                      # type: ignore[assignment]
    orig_cdf = t1._read_files

    def hooked_read(*a, **kw):
        if not fired:
            fired.append(1)
            t2.merge_upsert(df([(3, 77.0)]))
        return orig_cdf(*a, **kw)

    t1._read_files = hooked_read                # type: ignore[assignment]
    t1.delete_keys_dv(df([(2, 0.0)]).select("k"))
    t1._read_files = orig_cdf                   # type: ignore[assignment]
    rows2 = {r["k"]: r["v"] for r in t1.snapshot().collect()}
    assert 2 not in rows2 and rows2[3] == 77.0 and len(rows2) == 49


# --------------------------------------------------------- snapshot diff


def test_diff_between_versions(spark, orders, tmp_path):
    """diff(v_from, v_to): row-level delta of two snapshots with no
    change feed and no per-commit replay — equals the exceptAll of the
    snapshots, reads only the files that differ, empty on identical
    versions, and refuses to diff across a rename (ambiguous)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=6)
    t.merge_upsert(orders.where("o_orderkey % 50 = 3")
                   .withColumn("o_totalprice",
                               F.col("o_orderkey") * 0.5))     # v1
    t.delete_keys(orders.where("o_orderkey <= 200")
                  .select("o_orderkey"))                       # v2

    d = t.diff(0)
    cols = ["o_orderkey", "o_totalprice", "_change_type"]
    s0, s2 = t.snapshot(0), t.snapshot(2)
    exp_del = s0.exceptAll(s2).withColumn("_change_type",
                                          F.lit("delete"))
    exp_ins = s2.exceptAll(s0).withColumn("_change_type",
                                          F.lit("insert"))
    assert _rows(d, cols) == _rows(exp_del.unionByName(exp_ins), cols)
    assert d.where("_change_type = 'delete'").count() > 0
    assert d.where("_change_type = 'insert'").count() > 0

    # identical versions: empty diff with the full schema
    empty = t.diff(2, 2)
    assert empty.count() == 0
    assert empty.columns == [*t.snapshot().columns, "_change_type"]

    # O(changed files): the delete touched one range-clustered file
    reads = []
    orig = t._read_files

    def spying(meta, actions, **kw):
        acts = list(actions)
        reads.append(len(acts))
        return orig(meta, acts, **kw)

    t._read_files = spying                      # type: ignore[assignment]
    t.diff(1, 2).count()
    t._read_files = orig                        # type: ignore[assignment]
    _, live = t._state()
    assert reads and all(n <= 2 for n in reads)

    t.rename_column("o_custkey", "cust_id")                    # v3
    with pytest.raises(ValueError, match="rename"):
        t.diff(0, 3)
    with pytest.raises(ValueError, match="v_from"):
        t.diff(3, 1)


# ------------------------------------------------------ analyze / advise


def test_analyze_stats_and_broadcast_advice(spark, orders, tmp_path):
    """ANALYZE computes exact row/null/min-max stats and HLL NDV in one
    pass, commits them to the log, and table_stats()/advise_broadcast()
    read them back metadata-only with staleness tracking."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4)
    st = t.analyze()
    n = orders.count()
    assert st["rows"] == n
    ok = st["columns"]["o_orderkey"]
    assert ok["n_nonnull"] == n
    exact = orders.select("o_orderkey").distinct().count()
    assert abs(ok["ndv"] - exact) / exact < 0.05      # HLL++ rsd
    assert int(ok["min"]) == orders.agg(F.min("o_orderkey")).first()[0]
    assert st["bytes"] > 0
    assert t.history()[-1]["op"] == "analyze"

    # stats ride the log: a fresh handle sees them without a scan
    st2 = TxTable(spark, str(tmp_path / "t")).table_stats()
    assert st2["rows"] == n and st2["stale_commits"] == 0

    # staleness: a row-moving commit after the analyze is counted
    t.append(orders.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 9_000_000))
    assert t.table_stats()["stale_commits"] == 1

    # advice: a small dim broadcasts, a fact does not
    small = TxTable(spark, str(tmp_path / "dim"))
    small.create(orders.limit(20), "o_orderkey")
    small.analyze()
    assert small.advise_broadcast()["broadcast"] is True
    assert t.advise_broadcast(threshold_bytes=1024)["broadcast"] is False
    with pytest.raises(ValueError, match="analyze"):
        TxTable(spark, str(tmp_path / "dim2")).advise_broadcast()
    with pytest.raises(ValueError, match="unknown columns"):
        t.analyze(columns=["nope"])


# ------------------------------------------------------- bloom col index


def test_bloom_col_index_point_lookup(spark, orders, tmp_path):
    """Bloom filter index on a non-key column (Delta's BLOOMFILTER
    INDEX): point lookups on a high-cardinality UNCLUSTERED column —
    where min/max stats never prune because every file spans the whole
    domain — skip the files whose bloom rejects the value; writes after
    create (merge) maintain the blooms from the table meta; the index
    survives a column rename (blooms are keyed by physical name); a
    bloom column cannot widen (probes hash the native type)."""
    # reversed key digits: unique per row, high-cardinality, and
    # deliberately UNCLUSTERED relative to the key-ranged files
    o = orders.withColumn(
        "tracking", F.concat(F.lit("T"),
                             F.reverse(F.col("o_orderkey")
                                       .cast("string"))))
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(o, "o_orderkey", n_files=8, bloom_cols=["tracking"])

    picks = [r["tracking"] for r in
             o.where("o_orderkey IN (7, 4000, 14997)")
              .select("tracking").collect()]
    reads = []
    orig = t._read_files

    def spying(meta, actions, **kw):
        acts = list(actions)
        reads.append(len(acts))
        return orig(meta, acts, **kw)

    t._read_files = spying                      # type: ignore[assignment]
    got = t.read_col_in("tracking", picks).collect()
    t._read_files = orig                        # type: ignore[assignment]
    assert sorted(r["tracking"] for r in got) == sorted(picks)
    assert reads and reads[-1] < 8              # bloom actually pruned

    # a write AFTER create maintains the index from the meta
    extra = o.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5_000_000) \
        .withColumn("tracking", F.concat(F.lit("NEW-"),
                                         F.col("o_orderkey")))
    t.merge_upsert(extra)
    new_track = [r["tracking"] for r in extra.select("tracking")
                 .collect()]
    got = t.read_col_in("tracking", new_track)
    assert got.count() == 3
    _, live = t._state()
    assert all("cblooms" in a for a in live.values())

    # rename keeps pruning (cblooms keyed by physical names)
    t.rename_column("tracking", "trk")
    reads.clear()
    t._read_files = spying                      # type: ignore[assignment]
    got = t.read_col_in("trk", picks).collect()
    t._read_files = orig                        # type: ignore[assignment]
    assert sorted(r["trk"] for r in got) == sorted(picks)
    assert reads and reads[-1] < 8

    with pytest.raises(ValueError, match="no bloom index"):
        t.read_col_in("o_custkey", [1])
    # the merge key routes to the stronger range+bloom lookup path
    got = t.read_col_in("o_orderkey", [7, 4000])
    assert got.count() == orders.where("o_orderkey IN (7, 4000)").count()

    # bloom columns cannot widen: probes hash the native type
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.create(orders.withColumn("c32", F.col("o_custkey").cast("int")),
              "o_orderkey", bloom_cols=["c32"])
    with pytest.raises(ValueError, match="bloom-indexed"):
        t2.widen_column("c32", "bigint")
    got = t2.read_col_in("c32", [7, 11])
    assert got.count() == orders.where("o_custkey IN (7, 11)").count()


# ------------------------------------------------------------ copy into


def test_copy_into_idempotent_file_ingest(spark, orders, tmp_path):
    """COPY INTO: loads landing-dir files as an append, records each
    file's identity in the same commit, and skips already-loaded files
    on re-run — a retried ingest never double-loads; a file REWRITTEN
    in place (new mtime/size) counts as new; the data read touches
    only the not-yet-loaded files."""
    land = tmp_path / "landing"
    a = orders.where("o_orderkey % 3 = 0")
    b = orders.where("o_orderkey % 3 = 1")
    c = orders.where("o_orderkey % 3 = 2")
    a.coalesce(1).write.parquet(str(land / "a"))
    b.coalesce(1).write.parquet(str(land / "b"))

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(0), "o_orderkey", change_feed=True)
    res = t.copy_into(str(land))
    assert res["files_loaded"] == 2 and res["files_skipped"] == 0
    assert res["rows_loaded"] == a.count() + b.count()
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(a.unionByName(b), cols)

    # exact re-run: full no-op, no new version
    v = t.versions()[-1]
    res = t.copy_into(str(land))
    assert res == {"files_loaded": 0, "files_skipped": 2,
                   "rows_loaded": 0}
    assert t.versions()[-1] == v

    # a third file lands: only IT is read and loaded
    c.coalesce(1).write.parquet(str(land / "c"))
    res = t.copy_into(str(land))
    assert res["files_loaded"] == 1 and res["files_skipped"] == 2
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)

    # the ledger is in the log; CDF serves copy_into commits as inserts
    assert len(t.copied_files()) == 3
    ch = t.read_changes(since_version=1)
    assert {r["_change_type"] for r in
            ch.select("_change_type").distinct().collect()} == {"insert"}
    assert ch.count() == orders.count()

    # identity tables reject copy_into (generated keys need append path)
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.create(orders.limit(1), "o_orderkey", identity_col="sk")
    with pytest.raises(ValueError, match="identity"):
        t2.copy_into(str(land))


# ----------------------------------------- restore / clone / constraints


def test_restore_resets_state_preserving_history(spark, orders, tmp_path):
    """RESTORE = one new commit that resets files + DVs + metadata to
    the target version; every intermediate version still time-travels."""
    t = TxTable(spark, str(tmp_path / "rs"))
    t.create(orders, "o_orderkey", n_files=4)
    t.delete_keys_dv(orders.where("o_orderkey % 3 = 0")
                     .select("o_orderkey"))
    t.merge_upsert(orders.limit(10).withColumn("o_totalprice",
                                               F.lit(1.0)))
    t.add_columns({"extra": "int"})
    mid = {r["o_orderkey"] for r in t.snapshot(1).collect()}
    res = t.restore(0)
    assert res["restored_to"] == 0
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)
    assert "extra" not in t.snapshot().columns      # metadata restored
    assert {r["o_orderkey"] for r in t.snapshot(1).collect()} == mid
    assert t.history()[-1]["op"] == "restore"
    # restoring to the DV'd version brings the DVs back
    t.restore(1)
    assert t.snapshot().count() == \
        orders.where("o_orderkey % 3 != 0").count()
    # vacuumed target is a clear error: the merge version's rewritten
    # files are live in no retained version after the restores
    t.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="already vacuumed"):
        t.restore(2)


def test_shallow_clone_zero_copy_and_divergence(spark, orders, tmp_path):
    """CLONE hard-links the current files (zero copy, same inodes),
    carries active DVs, then diverges independently; the source's
    vacuum cannot break the clone."""
    t = TxTable(spark, str(tmp_path / "cl"))
    t.create(orders, "o_orderkey", n_files=4)
    t.delete_keys_dv(orders.where("o_orderkey % 4 = 2")
                     .select("o_orderkey"))
    c = t.clone_to(str(tmp_path / "cl2"))
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(c.snapshot(), cols) == _rows(t.snapshot(), cols)
    # zero copy: same inodes
    _, live = t._state()
    for a in live.values():
        s = os.stat(os.path.join(t.data_dir, a["path"]))
        d = os.stat(os.path.join(c.data_dir, a["path"]))
        assert s.st_ino == d.st_ino
    # divergence: a write to the clone is invisible to the source
    c.merge_upsert(orders.where("o_orderkey % 4 != 2").limit(5)
                   .withColumn("o_totalprice", F.lit(3.25)))
    assert c.snapshot().where("o_totalprice = 3.25").count() == 5
    assert t.snapshot().where("o_totalprice = 3.25").count() == 0
    before = _rows(c.snapshot(), cols)
    t.merge_upsert(orders.limit(50).withColumn("o_totalprice",
                                               F.lit(8.0)))
    t.vacuum(retain_versions=1)
    assert _rows(c.snapshot(), cols) == before      # inodes survived


def test_check_constraints_enforced_on_writes(spark, orders, tmp_path):
    """CHECK constraints: existing rows validated at add time, every
    later write rejected pre-commit on violation; clean writes pass."""
    t = TxTable(spark, str(tmp_path / "ck"))
    t.create(orders, "o_orderkey", n_files=2)
    with pytest.raises(ValueError, match="violated by\n?.*existing"):
        t.add_constraint("broke", "o_totalprice > 1e15")
    t.add_constraint("price_pos", "o_totalprice > 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("price_pos", "1 = 1")
    n0 = t.snapshot().count()
    bad = orders.limit(2).withColumn("o_totalprice", F.lit(-4.0)) \
                .withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    with pytest.raises(ValueError, match="price_pos"):
        t.append(bad)
    with pytest.raises(ValueError, match="price_pos"):
        t.merge_upsert(bad)
    assert t.snapshot().count() == n0                # nothing landed
    good = orders.limit(2) \
                 .withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    t.append(good)
    assert t.snapshot().count() == n0 + 2


def test_multi_column_partitioning(spark, orders, tmp_path):
    """Composite (two-column) partition layout: pure files per value
    TUPLE, tuple-pruned reads, composite replace_where with stray and
    arity rejection, single-column logs unchanged (scalar pval)."""
    o = orders.withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int"))
    t = TxTable(spark, str(tmp_path / "mp"))
    t.create(o, "o_orderkey", n_files=4,
             partition_by=["o_orderstatus", "bucket"])
    _, live = t._state()
    assert all(isinstance(a["pval"], list) and len(a["pval"]) == 2
               for a in live.values())
    n_sel = sum(1 for a in live.values() if tuple(a["pval"]) == ("F", 0))
    sel = t.read_partitions([("F", 0)])
    assert len(sel.inputFiles()) == n_sel < len(live)
    cols = ["o_orderkey", "o_totalprice"]
    exp = o.where("o_orderstatus = 'F' AND bucket = 0")
    assert _rows(sel, cols) == _rows(exp, cols)
    with pytest.raises(ValueError, match="component"):
        t.read_partitions(["F"])                    # arity mismatch
    # composite replace + stray rejection
    new = exp.withColumn("o_totalprice", F.col("o_totalprice") + 1)
    t.replace_where(("F", 0), new)
    expected = o.where("NOT (o_orderstatus = 'F' AND bucket = 0)") \
                .unionByName(new)
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)
    with pytest.raises(ValueError, match="other partitions"):
        t.replace_where(("F", 1), new)
    # maintenance preserves composite purity
    t.merge_upsert(o.limit(20).withColumn("o_totalprice", F.lit(4.5)))
    t.compact_partitions([("O", 1)], target_rows=10_000)
    _, live2 = t._state()
    assert all(isinstance(a["pval"], list) for a in live2.values())


def test_merge_when_conditional_clauses(spark, tmp_path):
    """Delta-style conditional MERGE: delete clause wins over update,
    update fires only on its condition (late-data guard shape),
    non-qualifying matches keep the target row, inserts respect their
    own condition, and the CDF records exactly the applied actions."""
    def df(rows):
        return spark.createDataFrame(rows, "k long, v double, flag int")

    t = TxTable(spark, str(tmp_path / "mw"))
    t.create(df([(k, float(k), 0) for k in range(20)]), "k",
             n_files=2, change_feed=True)
    src = df([(0, 100.0, 0),     # update (src.v > tgt.v)
              (1, -5.0, 0),      # matched, update condition fails → keep
              (2, 0.0, 1),       # delete clause
              (30, 30.0, 0),     # new key, insert cond passes
              (31, -1.0, 0)])    # new key, insert cond fails
    stats = t.merge_when(src, update_cond="src.v > tgt.v",
                         delete_cond="src.flag = 1",
                         insert_cond="src.v >= 0")
    assert stats["files_rewritten"] >= 1
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows[0] == 100.0 and rows[1] == 1.0
    assert 2 not in rows and rows[30] == 30.0 and 31 not in rows
    assert len(rows) == 20
    ch = sorted((r["_change_type"], r["k"])
                for r in t.read_changes(since_version=1).collect())
    assert ch == [("delete", 2), ("insert", 30),
                  ("update_postimage", 0), ("update_preimage", 0)]
    # exactly-once replay marker
    t.merge_when(src, txn=("app", 7))
    assert t.merge_when(src, txn=("app", 7)).get("skipped_replay")


def test_agg_mv_incremental_equals_recompute(spark, orders, tmp_path):
    """The materialized aggregate view, refreshed incrementally from
    the change feed through create/append/merge/delete, equals a
    from-scratch re-aggregation at every step; a group whose last row
    vanishes drops out; an up-to-date refresh is a logged no-op."""
    from walmart_project_etl_spark.operators.matview import refresh_agg_mv

    src = TxTable(spark, str(tmp_path / "mvsrc"))
    src.create(orders.where("o_orderkey % 2 = 0"), "o_orderkey",
               n_files=4, change_feed=True)
    mv_root = str(tmp_path / "mv")

    def check():
        mv = refresh_agg_mv(spark, src, mv_root, ["o_orderstatus"],
                            "o_totalprice")
        got = {r["o_orderstatus"]: (r["n_rows"], float(r["total"]))
               for r in mv.snapshot().collect()}
        exp = {r["o_orderstatus"]: (r["n"], float(r["s"])) for r in
               src.snapshot().groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("o_totalprice")
                             .cast("decimal(28,6)")).alias("s"))
                  .collect()}
        assert got == exp
        return mv

    check()
    src.append(orders.where("o_orderkey % 2 = 1"))
    src.merge_upsert(orders.where("o_orderkey % 13 = 0")
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 2))
    check()
    src.delete_keys(orders.where("o_orderstatus = 'P'")
                    .select("o_orderkey"))
    mv = check()
    assert mv.snapshot().where("o_orderstatus = 'P'").count() == 0
    v = mv.versions()[-1]
    mv = refresh_agg_mv(spark, src, mv_root, ["o_orderstatus"],
                        "o_totalprice")
    assert mv.versions()[-1] == v                # no-op when up to date


def test_merge_when_defaults_equal_merge_upsert(spark, orders, tmp_path):
    """merge_when with no conditions degenerates to merge_upsert
    exactly — same rows, same file-pruning stats shape."""
    src = orders.where("o_orderkey % 9 = 4") \
                .withColumn("o_totalprice", F.lit(2.5)) \
                .unionByName(
                    orders.limit(3).withColumn(
                        "o_orderkey", F.col("o_orderkey") + 10**9))
    a = TxTable(spark, str(tmp_path / "a"))
    a.create(orders, "o_orderkey", n_files=4)
    b = TxTable(spark, str(tmp_path / "b"))
    b.create(orders, "o_orderkey", n_files=4)
    sa = a.merge_upsert(src)
    sb = b.merge_when(src)
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(a.snapshot(), cols) == _rows(b.snapshot(), cols)
    assert sa["files_rewritten"] == sb["files_rewritten"]


def test_snapshot_at_timestamp(spark, orders, tmp_path):
    """TIMESTAMP AS OF: commits carry wall-clock stamps; a timestamp
    read resolves to the newest commit at-or-before it."""
    import time as _t

    t = TxTable(spark, str(tmp_path / "ts"))
    before_create = _t.time() - 0.001
    t.create(orders.where("o_orderkey % 2 = 0"), "o_orderkey", n_files=2)
    after_create = _t.time()
    _t.sleep(0.05)
    t.append(orders.where("o_orderkey % 2 = 1"))
    after_append = _t.time()
    n_even = orders.where("o_orderkey % 2 = 0").count()
    assert t.snapshot_at(after_create).count() == n_even
    assert t.snapshot_at(after_append).count() == orders.count()
    assert t.version_at(after_append) == 1
    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_at(before_create)


def test_maintenance_plan_and_run(spark, orders, tmp_path):
    """The metadata-only advisor: a clean table plans nothing; DV
    saturation plans a purge; fragmentation plans a compact;
    interleaved unclustered ingest on a stats column plans a zorder —
    and run_maintenance clears every condition with zero row changes."""
    from walmart_project_etl_spark.sources.maintenance import (
        maintenance_plan, run_maintenance)

    # a table with no stats columns, no DVs and big files is quiet
    t0 = TxTable(spark, str(tmp_path / "mt0"))
    t0.create(orders, "o_orderkey", n_files=2)
    assert maintenance_plan(t0, target_rows=100) == []

    t = TxTable(spark, str(tmp_path / "mt"))
    t.create(orders, "o_orderkey", n_files=2,
             stats_cols=["o_custkey"])
    # key-clustered files overlap ~100% on the uncorrelated custkey —
    # the advisor correctly flags the re-cluster opportunity
    assert [p["action"] for p in maintenance_plan(t, target_rows=100)] \
        == ["optimize_zorder"]

    # fragment (narrow appends), DV-tag every file, and the custkey
    # ranges of interleaved appends overlap → all three actions fire
    for i in range(4):
        t.append(orders.where(f"o_orderkey % 4 = {i}")
                 .withColumn("o_orderkey",
                             F.col("o_orderkey") + (i + 1) * 10**7))
    t.delete_keys_dv(orders.select("o_orderkey"))
    plan = maintenance_plan(t, target_rows=10_000)
    actions = [p["action"] for p in plan]
    # analyze fires too: the table has churned and never been analyzed
    assert actions == ["purge_deletes", "compact", "optimize_zorder",
                       "analyze"]

    before = _rows(t.snapshot(), ["o_orderkey", "o_totalprice"])
    executed = run_maintenance(t, target_rows=10_000)
    assert all("stats" in p for p in executed)
    assert _rows(t.snapshot(), ["o_orderkey", "o_totalprice"]) == before
    _, live = t._state()
    assert not any(a.get("_dvs") for a in live.values())
    # post-maintenance the table is quiet again (analyze ran LAST, so
    # the fresh stats see zero row-moving commits after them)
    assert maintenance_plan(t, target_rows=10_000) == []
    assert t.table_stats()["rows"] == t.snapshot().count()
    # staleness re-arms the advisor after enough churn
    for i in range(3):
        t.append(orders.limit(3).withColumn(
            "o_orderkey", F.col("o_orderkey") + (i + 50) * 10**7))
    assert "analyze" in [
        p["action"] for p in maintenance_plan(
            t, target_rows=10_000, analyze_stale_threshold=3)]


def test_concurrent_mixed_writers_no_lost_updates(spark, tmp_path):
    """Chaos for the version-pinned retry: three threads race merges,
    DV deletes, and appends on DISJOINT key ranges (deterministic
    expected state). Every thread's effects must all land — the
    lost-update interleave is exercised for real, not just via the
    deterministic hook test — with unique keys and a gap-free log."""
    import threading

    root = str(tmp_path / "chaos")
    t = TxTable(spark, root)

    def df(pairs):
        return spark.createDataFrame(pairs, "k long, v double")

    t.create(df([(k, 0.0) for k in range(300)]), "k", n_files=3)
    errors: list[Exception] = []

    def writer(tag: int) -> None:
        try:
            w = TxTable(spark, root)
            lo = tag * 100                       # disjoint 100-key slab
            w.merge_upsert(df([(lo + i, 1.0 + tag)
                               for i in range(0, 40)]))
            w.delete_keys_dv(df([(lo + i, 0.0)
                                 for i in range(40, 60)]).select("k"))
            w.append(df([(1000 + lo + i, float(tag))
                         for i in range(10)]))
            w.merge_upsert(df([(lo + i, 10.0 + tag)
                               for i in range(20, 40)]))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(tag,))
               for tag in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    vs = t.versions()
    assert vs == list(range(len(vs)))            # gap-free serial log
    rows: dict[int, list[float]] = {}
    for r in t.snapshot().collect():
        rows.setdefault(r["k"], []).append(r["v"])
    assert all(len(v) == 1 for v in rows.values())   # no duplications
    flat = {k: v[0] for k, v in rows.items()}
    for tag in range(3):
        lo = tag * 100
        for i in range(0, 20):
            assert flat[lo + i] == 1.0 + tag
        for i in range(20, 40):
            assert flat[lo + i] == 10.0 + tag
        for i in range(40, 60):
            assert lo + i not in flat            # DV delete landed
        for i in range(60, 100):
            assert flat[lo + i] == 0.0           # untouched slab tail
        for i in range(10):
            assert flat[1000 + lo + i] == float(tag)
    assert len(flat) == 300 - 3 * 20 + 3 * 10


def test_version_at_unstamped_commit_falls_back_to_mtime(
        spark, orders, tmp_path):
    """Legacy (pre-stamp) commits resolve TIMESTAMP AS OF from the
    commit FILE's mtime, Delta-style — treating them as time 0 would
    let snapshot_at(old_ts) return data committed long after it."""
    import json as _json
    import time as _t

    t = TxTable(spark, str(tmp_path / "vat"))
    t.create(orders.where("o_orderkey % 2 = 0"), "o_orderkey", n_files=2)
    mid = _t.time()
    _t.sleep(0.05)
    t.append(orders.where("o_orderkey % 2 = 1"))          # v1
    # simulate a legacy v1: strip the op action's ts stamp (the
    # rewrite also bumps the file mtime to now, which is the point)
    p = os.path.join(t.log_dir, "00000001.json")
    lines = [_json.loads(s) for s in open(p) if s.strip()]
    for a in lines:
        a.pop("ts", None)
    with open(p, "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in lines) + "\n")
    assert t.version_at(mid) == 0          # ts=0.0 fallback picked 1
    assert t.snapshot_at(mid).count() == \
        orders.where("o_orderkey % 2 = 0").count()
    assert t.version_at(_t.time()) == 1    # mtime still orders it


def test_merge_when_constraints_skip_unwritten_source_rows(
        spark, orders, tmp_path):
    """CHECK constraints validate the rows a conditional merge actually
    WRITES (Delta semantics): tombstone-shaped source rows consumed by
    the delete clause (or filtered by insert_cond) may violate them; a
    violating row that WOULD be written still rejects the merge."""
    t = TxTable(spark, str(tmp_path / "mwc"))
    t.create(orders, "o_orderkey", n_files=2)
    t.add_constraint("price_pos", "o_totalprice > 0")
    n0 = t.snapshot().count()

    # delete-only merge: tombstones carry a violating sentinel price
    tomb = (orders.where("o_orderkey % 25 = 3")
            .withColumn("o_totalprice", F.lit(-1.0)))
    res = t.merge_when(tomb, delete_cond="src.o_totalprice < 0",
                       insert_cond="src.o_totalprice >= 0")
    assert res["files_rewritten"] > 0
    n_del = orders.where("o_orderkey % 25 = 3").count()
    assert t.snapshot().count() == n0 - n_del

    # unmatched violating rows filtered out by insert_cond: legal no-op
    ghost = (orders.limit(3)
             .withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
             .withColumn("o_totalprice", F.lit(-2.0)))
    t.merge_when(ghost, insert_cond="src.o_totalprice >= 0")
    assert t.snapshot().count() == n0 - n_del

    # but a violating row that WOULD land still rejects pre-commit
    v_before = t.versions()[-1]
    with pytest.raises(ValueError, match="price_pos"):
        t.merge_when(ghost)                       # unconditional insert
    with pytest.raises(ValueError, match="price_pos"):
        t.merge_when(orders.limit(3)
                     .withColumn("o_totalprice", F.lit(-3.0)))  # update
    assert t.versions()[-1] == v_before           # nothing committed


def test_dv_write_scales_out_with_touched_files(spark, orders, tmp_path):
    """A table-sized DV delete must not funnel through one writer task:
    with >64 touched files the pairs hash-partition into multiple DV
    files (each data file's pairs wholly in one), reads apply them all,
    and purge materializes them away."""
    t = TxTable(spark, str(tmp_path / "dvp"))
    t.create(orders, "o_orderkey", n_files=130)
    res = t.delete_keys_dv(orders.where("o_orderkey % 3 = 0")
                           .select("o_orderkey"))
    assert res["rows_deleted"] == orders.where("o_orderkey % 3 = 0") \
                                        .count()
    assert res["files_tagged"] > 64
    dv_files = {f for f in os.listdir(t.data_dir) if f.startswith("dv-")}
    assert len(dv_files) >= 2                   # multi-file DV write
    _, live = t._state()
    # every tagged file references exactly one DV, and only used DVs
    # remain on disk (empty hash buckets were unlinked)
    referenced = {dv for a in live.values() for dv in a.get("_dvs", [])}
    assert referenced == dv_files
    assert all(len(a.get("_dvs", [])) <= 1 for a in live.values())
    exp = orders.where("o_orderkey % 3 <> 0")
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(exp, cols)
    t.purge_deletes()
    assert _rows(t.snapshot(), cols) == _rows(exp, cols)
    assert not any(a.get("_dvs") for a in t._state()[1].values())


@pytest.mark.parametrize("seed", [90210])
def test_model_combined_format_operations(spark, tmp_path, seed):
    """ONE model where every format feature interleaves randomly:
    composite partitioning, replace_where, copy-on-write delete, DV
    delete, purge, RESTORE, compact (global + per-partition), Z-order,
    COLUMN RENAME (any column: key, partition, stats, value), and
    change-feed capture — the interactions (a DV on a file that
    replace_where then drops; RESTORE across a purge; a rename between
    a file's write and its zorder rewrite; pruning through the mapping)
    are where format bugs live — plus COPY INTO (the same landing dir
    twice must ledger-skip) and metadata-only ANALYZE commits
    interleaved. Per step: snapshot == model (positional — logical
    names rotate), partition purity, and an incremental CDF consumer
    fold == model (folding exactly through row-TRACKED restores;
    resyncing via ChangeFeedRestoredError on restores that cross a
    schema change); spot time-travel every 5 steps, a snapshot-DIFF
    == model-transition check every 7, full sweep at the end.
    ``WPE_COMBINED_MODEL_STEPS`` overrides the step count (default
    200)."""
    import random

    from walmart_project_etl_spark.sources.txlog import \
        ChangeFeedRestoredError

    n_steps = int(os.environ.get("WPE_COMBINED_MODEL_STEPS", "200"))
    rng = random.Random(seed)
    t = TxTable(spark, str(tmp_path / "cm"), checkpoint_interval=5)
    model: dict[int, tuple] = {}
    #: CURRENT logical column names (renames rotate them); rows are
    #: tracked positionally so the model is name-agnostic
    names = ["k", "p", "b", "s", "v"]
    types = ["long", "string", "int", "int", "double"]

    def row(k, val):
        return (k, "abc"[k % 3], k % 2, k // 100, float(val))

    def df_of(rows):
        return spark.createDataFrame(
            list(rows),
            ", ".join(f"{n} {ty}" for n, ty in zip(names, types)))

    def snap_rows():
        return {r[0]: tuple(r) for r in t.snapshot().collect()}

    init = {k: row(k, k) for k in rng.sample(range(1000), 40)}
    t.create(df_of(init.values()), "k", n_files=4,
             partition_by=["p", "b"], stats_cols=["s"],
             change_feed=True)
    model.update(init)
    versioned = {t.versions()[-1]: dict(model)}
    vnames = {t.versions()[-1]: list(names)}   # logical names per version
    fold = dict(model)                   # the incremental CDF consumer
    cdf_since = t.versions()[-1] + 1

    OPS = (["append"] * 3 + ["merge"] * 3 + ["delete"] * 2
           + ["delete_dv"] * 2 + ["replace_where"] * 2
           + ["purge", "restore", "compact", "compact_partitions",
              "zorder"] + ["rename"] * 2 + ["widen"]
           + ["copy_into", "analyze"])
    for step in range(n_steps):
        v_before = t.versions()[-1]
        model_before = dict(model)
        op = rng.choice(OPS)
        if op == "append":
            new = {k: row(k, step)
                   for k in rng.sample(range(2000, 9000), 6)
                   if k not in model}
            t.append(df_of(new.values()))
            model.update(new)
        elif op == "merge":
            keys = rng.sample(sorted(model), min(4, len(model))) + \
                rng.sample(range(10_000, 12_000), 2)
            ups = {k: row(k, step + 0.5) for k in keys}
            t.merge_upsert(df_of(ups.values()))
            model.update(ups)
        elif op == "delete":
            doomed = rng.sample(sorted(model), min(3, len(model)))
            t.delete_keys(df_of(model[k] for k in doomed)
                          .select(names[0]))
            for k in doomed:
                model.pop(k)
        elif op == "delete_dv":
            doomed = rng.sample(sorted(model), min(3, len(model)))
            t.delete_keys_dv(df_of(model[k] for k in doomed)
                             .select(names[0]))
            for k in doomed:
                model.pop(k)
        elif op == "replace_where":
            # the overwrite's rows carry the target tuple regardless of
            # k (partition value is data, not key-derived) — a later
            # merge may legally move such a key back to its k-derived
            # partition, which the model tracks exactly
            val = ("abc"[rng.randrange(3)], rng.randrange(2))
            new = {k: (k, val[0], val[1], k // 100, step + 0.75)
                   for k in rng.sample(range(20_000, 30_000), 5)}
            t.replace_where(val, df_of(new.values()))
            model = {k: r for k, r in model.items()
                     if (r[1], r[2]) != val}
            model.update(new)
        elif op == "purge":
            t.purge_deletes()
        elif op == "restore":
            tgt = rng.choice(sorted(versioned))
            restored = t.restore(tgt)
            model = dict(versioned[tgt])
            names = list(vnames[tgt])    # old logical names come back
        elif op == "compact":
            t.compact(target_rows=100)
        elif op == "compact_partitions":
            t.compact_partitions(
                [("abc"[rng.randrange(3)], rng.randrange(2))],
                target_rows=100)
        elif op == "rename":
            i = rng.randrange(len(names))
            new = f"n{step}"
            t.rename_column(names[i], new)
            names[i] = new
        elif op == "widen":
            # metadata-only int→bigint on the stats column; a RESTORE
            # may narrow it back, re-arming the op. Values compare
            # equal either way (python ints), so the model is blind to
            # it — exactly what reader-safe widening promises.
            try:
                t.widen_column(names[3], "bigint")
            except ValueError:
                pass                     # already bigint at this meta
        elif op == "copy_into":
            # idempotent landing-dir ingest: the SAME directory twice —
            # the second call must be a ledger no-op (no new version)
            new = {k: row(k, step + 0.25)
                   for k in rng.sample(range(40_000, 50_000), 4)
                   if k not in model}
            land = str(tmp_path / f"land{step}")
            df_of(new.values()).coalesce(1).write.parquet(land)
            t.copy_into(land)
            v_after = t.versions()[-1]
            res = t.copy_into(land)      # replay: ledger skips all
            assert res["files_loaded"] == 0
            assert t.versions()[-1] == v_after
            model.update(new)
        elif op == "analyze":
            # metadata-only stats commit: exact row count, no row moves
            st = t.analyze(columns=[names[0]])
            assert st["rows"] == len(model)
            assert t.table_stats()["stale_commits"] == 0
        else:
            t.optimize_zorder([names[0], names[3]], target_rows=100)
        assert snap_rows() == model, \
            f"divergence after step {step}: {op}"
        _, live = t._state()
        assert all(isinstance(a.get("pval"), list)
                   and len(a["pval"]) == 2 for a in live.values()), \
            f"purity broken after step {step}: {op}"
        cur_v = t.versions()[-1]
        if op == "restore" and not restored["cdf_tracked"]:
            # a restore ACROSS a schema change (rename/widen between
            # target and now) is untracked: the feed refuses to fold
            # across it and the consumer resyncs from the snapshot
            with pytest.raises(ChangeFeedRestoredError):
                t.read_changes(since_version=cdf_since, upto=cur_v)
            fold = dict(model)
            cdf_since = cur_v + 1
        elif cur_v >= cdf_since:
            ch = t.read_changes(since_version=cdf_since,
                                upto=cur_v).collect()
            for v in sorted({r["_commit_version"] for r in ch}):
                vr = [r for r in ch if r["_commit_version"] == v]
                for r in vr:
                    if r["_change_type"] in ("delete",
                                             "update_preimage"):
                        fold.pop(r[0], None)
                for r in vr:
                    if r["_change_type"] in ("insert",
                                             "update_postimage"):
                        fold[r[0]] = tuple(r)[:5]
            assert fold == model, \
                f"CDF consumer diverged after step {step}: {op}"
            cdf_since = cur_v + 1
        if step % 5 == 4:
            v = rng.choice(sorted(versioned))
            got = {r[0]: tuple(r) for r in t.snapshot(v).collect()}
            assert got == versioned[v], \
                f"time travel broken at version {v} (step {step})"
        if step % 7 == 3 and cur_v > v_before:
            # snapshot-diff invariant: diff(before, after) is exactly
            # the model transition (refusals across a rename are the
            # documented contract, not a failure)
            try:
                dd = t.diff(v_before, cur_v).collect()
            except ValueError:
                pass
            else:
                got_del = {tuple(r)[:5] for r in dd
                           if r["_change_type"] == "delete"}
                got_ins = {tuple(r)[:5] for r in dd
                           if r["_change_type"] == "insert"}
                exp_del = {r for k, r in model_before.items()
                           if model.get(k) != r}
                exp_ins = {r for k, r in model.items()
                           if model_before.get(k) != r}
                assert got_del == exp_del and got_ins == exp_ins, \
                    f"diff diverged after step {step}: {op}"
        versioned[cur_v] = dict(model)
        vnames[cur_v] = list(names)
    for v, expected in versioned.items():
        got = {r[0]: tuple(r) for r in t.snapshot(v).collect()}
        assert got == expected, f"time travel broken at version {v}"


def test_update_where_two_phase_and_partition_migration(
        spark, orders, tmp_path):
    """Predicate UPDATE: only files holding a matching row rewrite
    (two-phase discovery with partition-hint pruning); SET on a
    partition column migrates rows pure; constraints validate the
    updated rows; CDF captures pre/post images."""
    part = orders
    t = TxTable(spark, str(tmp_path / "uw"))
    t.create(part, "o_orderkey", n_files=6, change_feed=True,
             partition_by="o_orderstatus")
    _, live0 = t._state()
    n_f_files = sum(1 for a in live0.values() if a["pval"] == "F")

    res = t.update_where({"o_totalprice": "o_totalprice + 1000000"},
                         "o_custkey % 4 = 1", partitions=["F"])
    assert res["files_scanned"] == n_f_files          # hint pruned
    assert res["files_rewritten"] <= n_f_files
    assert res["files_untouched"] >= len(live0) - n_f_files
    exp = orders.withColumn(
        "o_totalprice",
        F.when((F.col("o_orderstatus") == "F")
               & (F.col("o_custkey") % 4 == 1),
               F.col("o_totalprice") + 1000000)
        .otherwise(F.col("o_totalprice")))
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert _rows(t.snapshot(), cols) == _rows(exp, cols)
    assert res["rows_matched"] == orders.where(
        "o_orderstatus = 'F' AND o_custkey % 4 = 1").count()
    ch = t.read_changes(since_version=1)
    assert ch.where("_change_type = 'update_postimage'").count() == \
        res["rows_matched"]
    assert ch.where("_change_type = 'update_preimage'").count() == \
        res["rows_matched"]

    # SET on the partition column: rows migrate, files stay pure
    res2 = t.update_where({"o_orderstatus": "'X'"},
                          "o_orderstatus = 'P' AND o_orderkey % 2 = 0")
    assert res2["rows_matched"] > 0
    _, live2 = t._state()
    assert all("pval" in a for a in live2.values())
    assert t.snapshot().where("o_orderstatus = 'X'").count() == \
        res2["rows_matched"]
    assert t.read_partitions(["X"]).count() == res2["rows_matched"]

    # constraints validate the UPDATED rows
    t2 = TxTable(spark, str(tmp_path / "uwc"))
    t2.create(orders, "o_orderkey", n_files=2)
    t2.add_constraint("pos", "o_totalprice > 0")
    with pytest.raises(ValueError, match="pos"):
        t2.update_where({"o_totalprice": "-o_totalprice"},
                        "o_orderkey % 2 = 0")
    # no-match predicate: zero rewrites, no commit
    v = t2.versions()[-1]
    r = t2.update_where({"o_totalprice": "0.0"}, "o_orderkey < 0")
    assert r["files_rewritten"] == 0 and t2.versions()[-1] == v


def test_delete_where_pruned_and_exact(spark, orders, tmp_path):
    """Predicate DELETE: stats-hint pruning bounds the candidate scan,
    only match-holding files rewrite, result equals the SQL filter,
    CDF captures the deletes."""
    t = TxTable(spark, str(tmp_path / "dw"))
    t.create(orders, "o_orderkey", n_files=8, change_feed=True,
             stats_cols=["o_custkey"])
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    res = t.delete_where(f"o_orderkey <= {lo + 50}",
                         key_lo=None, key_hi=lo + 50)
    _, live0 = t._state()
    assert res["files_scanned"] <= 2                  # key-hint pruned
    assert res["files_rewritten"] <= 2
    exp = orders.where(f"o_orderkey > {lo + 50}")
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(exp, cols)
    n_del = orders.where(f"o_orderkey <= {lo + 50}").count()
    assert res["rows_matched"] == n_del
    ch = t.read_changes(since_version=1)
    assert ch.where("_change_type = 'delete'").count() == n_del


def test_merge_schema_write_option(spark, orders, tmp_path):
    """Delta's mergeSchema: a write carrying NEW columns extends the
    declared schema atomically with the data (one commit, no separate
    evolve); old files surface the columns as NULL; declared columns
    missing from the write fill as NULLs; time travel before the
    evolving commit still sees the old schema; plain writes keep
    rejecting drift."""
    base = orders.select("o_orderkey", "o_totalprice")
    t = TxTable(spark, str(tmp_path / "ms"))
    t.create(base.where("o_orderkey % 2 = 0"), "o_orderkey", n_files=2)

    t.append(base.where("o_orderkey % 2 = 1")
             .withColumn("batch", F.lit("b2")), merge_schema=True)
    assert t.snapshot().columns == ["o_orderkey", "o_totalprice",
                                    "batch"]
    # ONE commit carried schema + data
    assert [h["op"] for h in t.history()] == ["create", "append"]
    assert t.snapshot().where("batch IS NULL").count() == \
        base.where("o_orderkey % 2 = 0").count()
    # time travel before the evolution: old schema
    assert t.snapshot(0).columns == ["o_orderkey", "o_totalprice"]

    # merge with another new column, 'batch' missing from the source
    ups = base.where("o_orderkey % 100 = 0") \
              .withColumn("o_totalprice", F.col("o_totalprice") * 2) \
              .withColumn("q", F.lit(5))
    t.merge_upsert(ups, merge_schema=True)
    s = t.snapshot()
    assert s.columns == ["o_orderkey", "o_totalprice", "batch", "q"]
    n_up = base.where("o_orderkey % 100 = 0").count()
    assert s.where("q = 5").count() == n_up
    assert s.where("q = 5 AND batch IS NULL").count() == n_up
    assert s.count() == base.count()

    # non-evolving writes still reject drift both ways
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(base.limit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(s.limit(1).withColumn("zz", F.lit(1)))


def test_export_manifest_external_reader(spark, orders, tmp_path):
    """Symlink-manifest export: an EXTERNAL engine (DuckDB) reads the
    manifest's file list and sees exactly the snapshot — including
    after a merge (new manifest) — and the export refuses while
    deletion vectors are attached (external readers would resurrect
    the deleted rows)."""
    import duckdb

    t = TxTable(spark, str(tmp_path / "m"))
    t.create(orders, "o_orderkey", n_files=3)
    man = t.export_manifest()
    files = [ln.strip() for ln in open(man)]
    con = duckdb.connect()
    got = con.execute(
        "SELECT count(*), sum(o_orderkey) FROM read_parquet(?)",
        [files]).fetchone()
    exp = orders.agg(F.count(F.lit(1)),
                     F.sum("o_orderkey")).first()
    assert (got[0], got[1]) == (exp[0], exp[1])
    # regenerate after a merge — the new snapshot, atomically swapped
    t.merge_upsert(orders.where("o_orderkey % 100 = 7")
                   .withColumn("o_totalprice", F.lit(1.0)))
    files2 = [ln.strip() for ln in open(t.export_manifest())]
    assert files != files2
    got2 = con.execute(
        "SELECT sum(o_totalprice) FROM read_parquet(?)",
        [files2]).fetchone()[0]
    exp2 = t.snapshot().agg(F.sum("o_totalprice")).first()[0]
    assert abs(float(got2) - float(exp2)) < 1e-4
    # DV state refuses
    t2 = TxTable(spark, str(tmp_path / "dv"))
    t2.create(orders, "o_orderkey", n_files=3)
    t2.delete_keys_dv(orders.limit(3).select("o_orderkey"))
    with pytest.raises(ValueError, match="deletion vectors"):
        t2.export_manifest()
    t2.purge_deletes()
    assert t2.export_manifest()


def test_null_count_skipping(spark, tmp_path):
    """nullCount data skipping (Delta's null stats): an IS NOT NULL
    read skips the ingest batches where the declared column was
    entirely NULL (a late-arriving column), and equals the unpruned
    filter exactly. Files written with values keep scanning; the
    pruned file count is pinned via _prune_live."""
    t = TxTable(spark, str(tmp_path / "n"))
    with_val = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("tag"))
    all_null = spark.range(100, 200).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("tag"))
    t.create(with_val, "k", n_files=2, stats_cols=["tag"])
    t.append(all_null.limit(50))
    t.append(all_null.where("k >= 150"))
    meta, live = t._state()
    files, _ = t._prune_live(meta, live, not_null=["tag"])
    assert len(files) < len(live)            # the all-null files skip
    got = t.read_where(not_null=["tag"])
    assert got.count() == 100
    assert got.where("tag is null").count() == 0
    # composes with a range band on the same stats tier
    band = t.read_where(stats={"tag": ("10", "19")}, not_null=["tag"])
    assert band.count() == \
        t.snapshot().where("tag >= '10' and tag <= '19'").count()
    with pytest.raises(ValueError, match="no stats"):
        t.read_where(not_null=["k"])


def test_vacuum_dry_run_and_time_retention(spark, orders, tmp_path):
    """VACUUM RETAIN n HOURS + DRY RUN (Delta's spellings): dry run
    lists exactly the files the real run then removes; an hour window
    covering the whole log reclaims nothing; retain_hours=0 matches the
    version-based horizon at the head."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4)
    t.merge_upsert(orders.limit(30).withColumn("o_totalprice",
                                               F.lit(1.0)))
    t.merge_upsert(orders.limit(30).withColumn("o_totalprice",
                                               F.lit(2.0)))

    # a window covering the whole (just-written) log keeps everything —
    # even though version-retention alone would reclaim
    res = t.vacuum(retain_versions=1, retain_hours=1.0, dry_run=True)
    assert res["would_remove"] == [] and res["horizon"] == 0

    dry = t.vacuum(retain_versions=1, retain_hours=0.0, dry_run=True)
    assert dry["removed"] == 0 and len(dry["would_remove"]) > 0
    for name in dry["would_remove"]:          # nothing actually deleted
        assert os.path.exists(os.path.join(t.data_dir, name))

    real = t.vacuum(retain_versions=1, retain_hours=0.0)
    assert real["removed"] == len(dry["would_remove"])
    assert real["horizon"] == dry["horizon"]
    for name in dry["would_remove"]:
        assert not os.path.exists(os.path.join(t.data_dir, name))
    # the retained head still reads
    assert t.snapshot().count() == orders.count()


def test_concurrent_copy_into_loads_each_file_once(spark, orders,
                                                   tmp_path):
    """Two writers race copy_into over the SAME landing directory: the
    ledger is recomputed against the pinned base on every commit
    attempt, so every landing file loads EXACTLY once no matter who
    wins each race (the loser re-plans; its orphaned data files are
    unreferenced by construction)."""
    import threading

    land = tmp_path / "landing"
    parts = [orders.where(f"o_orderkey % 4 = {i}") for i in range(4)]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(land / f"f{i}"))

    root = str(tmp_path / "t")
    t = TxTable(spark, root)
    t.create(orders.limit(0), "o_orderkey")
    errors: list[Exception] = []
    loaded: list[int] = []

    def loader() -> None:
        try:
            w = TxTable(spark, root)
            loaded.append(w.copy_into(str(land))["files_loaded"])
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=loader) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sum(loaded) == 4                      # each file exactly once
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)
    assert len(t.copied_files()) == 4
    # the losers' orphaned files are invisible and reclaimable
    t.vacuum_uncommitted(older_than_s=0)
    assert _rows(t.snapshot(), cols) == _rows(orders, cols)


def test_restore_at_timestamp(spark, orders, tmp_path):
    """RESTORE TO TIMESTAMP AS OF: resolves through version_at and
    restores that snapshot (tracked like any other restore)."""
    import time as _t

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    _t.sleep(0.05)
    mark = _t.time()
    _t.sleep(0.05)
    t.delete_keys(orders.where("o_orderkey <= 300")
                  .select("o_orderkey"))
    res = t.restore_at(mark)
    assert res["restored_to"] == 0 and res["cdf_tracked"] is True
    assert t.snapshot().count() == orders.count()


def test_copy_into_ledger_checkpointed_and_force(spark, orders,
                                                 tmp_path):
    """The COPY INTO ledger folds into checkpoints (O(recent) replay),
    survives a RESTORE (history, not state — Delta's documented
    behavior), and force=True reloads regardless."""
    land = tmp_path / "landing"
    orders.where("o_orderkey % 2 = 0").coalesce(1) \
        .write.parquet(str(land / "a"))

    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    t.create(orders.limit(0), "o_orderkey")
    t.copy_into(str(land))                                     # v1
    t.append(orders.where("o_orderkey % 2 = 1"))               # v2 → ckpt
    ck = os.path.join(t.log_dir, "00000002.checkpoint.json")
    assert os.path.exists(ck)
    import json as _json
    assert len(_json.load(open(ck))["copied"]) == 1
    # checkpoint-resumed ledger still skips
    assert TxTable(spark, str(tmp_path / "t")) \
        .copy_into(str(land))["files_loaded"] == 0

    # RESTORE resets data but not the ledger; force reloads
    t.restore(0)
    assert t.snapshot().count() == 0
    assert t.copy_into(str(land))["files_loaded"] == 0   # ledger holds
    res = t.copy_into(str(land), force=True)
    assert res["files_loaded"] == 1
    assert t.snapshot().count() == orders.where("o_orderkey % 2 = 0") \
                                         .count()


def test_replace_table_atomic_full_swap(spark, orders, tmp_path):
    """CREATE OR REPLACE: contents + declared metadata swap in ONE
    commit — old versions still time-travel, a new key/layout/schema
    applies, the feed refuses to fold silently across it (declared
    full rewrite — resync contract), and a concurrent reader never
    sees an empty table."""
    from walmart_project_etl_spark.sources.txlog import \
        ChangeFeedRestoredError

    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey", n_files=4, change_feed=True)
    t.delete_keys(orders.where("o_orderkey <= 200")
                  .select("o_orderkey"))                       # v1

    rebuilt = (orders.groupBy("o_custkey")
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("double"))
                     .alias("revenue")))
    t.replace_table(rebuilt, "o_custkey",
                    stats_cols=["n_orders"])                   # v2
    cols = ["o_custkey", "n_orders"]
    assert _rows(t.snapshot(), cols) == _rows(rebuilt, cols)
    assert t._state()[0]["key_col"] == "o_custkey"
    # old versions still time-travel under the OLD schema
    assert t.snapshot(1).count() == \
        orders.where("o_orderkey > 200").count()
    assert "o_orderkey" in t.snapshot(1).columns
    # the feed refuses to fold across the rewrite
    with pytest.raises(ChangeFeedRestoredError, match="replace_table"):
        t.read_changes(since_version=1)
    # ...but flows again after it
    t.merge_upsert(rebuilt.limit(3).withColumn("revenue", F.lit(0.0)))
    assert t.read_changes(since_version=3).count() > 0
    # the new key's pruned reads work against the new layout
    some = [r["o_custkey"] for r in rebuilt.limit(2).collect()]
    assert t.read_matching(
        spark.createDataFrame([(k,) for k in some],
                              "o_custkey long")).count() == 2


def test_agg_pushdown_metadata_only_and_dv_hybrid(spark, tmp_path):
    """Metadata-only aggregates: COUNT(*)/MIN/MAX answered from the log
    alone on a DV-free table (files_read == 0 — proven against a full
    recompute); DV'd files are the ONLY ones read; float columns and
    undeclared columns refuse rather than mis-answer; NULLs are
    ignored by MIN/MAX exactly as the per-file stats are."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    t = TxTable(spark, str(tmp_path / "ap"))
    t.create(o.where("o_orderkey % 2 = 0"), "o_orderkey", n_files=4,
             stats_cols=["o_orderdate"])
    t.append(o.where("o_orderkey % 2 = 1"))

    def expect(df, col=None):
        exprs = [F.count(F.lit(1)).alias("n")]
        if col:
            exprs += [F.min(F.col(col).cast("string")).alias("lo"),
                      F.max(F.col(col).cast("string")).alias("hi")]
        return df.agg(*exprs).first()

    # clean table: zero data read, exact count
    r = t.agg_pushdown()
    assert r["n_rows"] == o.count()
    assert r["files_read"] == 0 and r["files_metadata"] > 0

    # key min/max from kmin/kmax (native int domain)
    ek = o.agg(F.count(F.lit(1)).alias("n"),
               F.min("o_orderkey").alias("lo"),
               F.max("o_orderkey").alias("hi")).first()
    r = t.agg_pushdown("o_orderkey")
    assert (r["n_rows"], r["min"], r["max"]) == \
        (ek["n"], ek["lo"], ek["hi"])
    assert r["files_read"] == 0

    # stats-column min/max (date → ISO string domain)
    e = expect(o, "o_orderdate")
    r = t.agg_pushdown("o_orderdate")
    assert (r["min"], r["max"]) == (e["lo"], e["hi"])
    assert r["files_read"] == 0

    # ineligible: float dtype; undeclared column
    with pytest.raises(ValueError, match="out of value order"):
        t.agg_pushdown("o_totalprice")
    with pytest.raises(ValueError, match="neither the key nor"):
        t.agg_pushdown("o_custkey")

    # DV-delete: only the DV'd files are read; the fold stays exact
    t.delete_keys_dv(o.where("o_orderkey % 11 = 0").select("o_orderkey"))
    live_n = len(t._state()[1])
    surv = o.where("o_orderkey % 11 <> 0")
    e = expect(surv, "o_orderdate")
    r = t.agg_pushdown("o_orderdate")
    assert r["n_rows"] == e["n"]
    assert (r["min"], r["max"]) == (e["lo"], e["hi"])
    assert 0 < r["files_read"] <= live_n
    assert r["files_metadata"] + r["files_read"] == live_n

    # NULL stats values never poison min/max (all-NULL column → None)
    n = TxTable(spark, str(tmp_path / "apn"))
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("tag"))
    n.create(df, "k", n_files=2, stats_cols=["tag"])
    r = n.agg_pushdown("tag")
    assert r["n_rows"] == 10 and r["min"] is None and r["max"] is None


#: the key-set DML ops: each prunes files by its key set, so each takes
#: the disjoint-append re-commit on a lost race
_KEYSET_OPS = ("merge_upsert", "merge_when", "apply_changes",
               "delete_keys", "delete_keys_dv")


def _keyset_op(t, op, rows):
    """Apply key-set DML ``op`` with ``rows``: the new rows for the three
    upserting ops, the keys to delete for the two deletes."""
    if op == "merge_upsert":
        return t.merge_upsert(rows)
    if op == "merge_when":
        return t.merge_when(rows)
    if op == "apply_changes":
        return t.apply_changes(
            rows.withColumn("_change_type", F.lit("update_postimage")))
    return getattr(t, op)(rows.select(t._state()[0]["key_col"]))


def _race_one_append(t, other, df):
    """Make ``t``'s next commit lose its race to ``other.append(df)``;
    returns a dict counting the reads of touched files (one per
    attempt of a key-set op — its data plane)."""
    state = {"raced": False, "reads": 0}
    real_commit, real_read = t._commit, t._read_files

    def racing_commit(actions, v):
        if not state["raced"]:
            state["raced"] = True
            other.append(df)               # steals version v
        return real_commit(actions, v)

    def counting_read(*a, **k):
        state["reads"] += 1
        return real_read(*a, **k)

    t._commit, t._read_files = racing_commit, counting_read
    return state


@pytest.mark.parametrize("op", _KEYSET_OPS)
def test_merge_lost_race_disjoint_append_avoids_rerun(
        spark, orders, tmp_path, op):
    """WriteSerializable classification: a key-set op that loses its
    commit race to a DISJOINT blind append re-commits its already-written
    actions at the new head — the data plane runs exactly once."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    other = TxTable(spark, str(tmp_path / "t"))
    far = spark.createDataFrame(
        [(10 ** 12 + i, 1, 9.9, "N") for i in range(3)], orders.schema)
    state = _race_one_append(t, other, far)
    updates = orders.where("o_orderkey % 100 = 7") \
                    .withColumn("o_totalprice", F.lit(2.5))
    stats = _keyset_op(t, op, updates)
    del t._commit, t._read_files
    assert stats.get("rerun_avoided") is True
    assert state["reads"] == 1             # data plane ran ONCE
    kept = orders.join(updates.select("o_orderkey"), "o_orderkey",
                       "left_anti")
    if op.startswith("delete"):
        expected = kept.unionByName(far)
    else:
        expected = kept.unionByName(updates).unionByName(far)
    cols = ["o_orderkey", "o_totalprice"]
    assert _rows(t.snapshot(), cols) == _rows(expected, cols)


@pytest.mark.parametrize("op", _KEYSET_OPS)
def test_merge_lost_race_overlapping_append_reruns(
        spark, orders, tmp_path, op):
    """A concurrent append whose file MAY contain one of the op's keys
    is a real conflict: the op re-runs against the winner's snapshot,
    so the raced-in row of key 107 is absorbed — updated by the upserts
    (merge_upsert and apply_changes replace it, leaving one row;
    merge_when updates every matched target row, so both rows of the
    key take the source values), deleted by the deletes."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    other = TxTable(spark, str(tmp_path / "t"))
    dup = spark.createDataFrame([(107, 1, 0.01, "N")], orders.schema)
    state = _race_one_append(t, other, dup)
    updates = orders.where("o_orderkey % 100 = 7") \
                    .withColumn("o_totalprice", F.lit(2.5))
    stats = _keyset_op(t, op, updates)
    del t._commit, t._read_files
    assert "rerun_avoided" not in stats
    assert state["reads"] == 2             # conflict -> full re-run
    got = t.snapshot()
    prices = [r["o_totalprice"]
              for r in got.where("o_orderkey = 107").collect()]
    if op.startswith("delete"):
        assert prices == []
        assert got.count() == orders.count() - updates.count()
    else:
        assert prices == [2.5] * (2 if op == "merge_when" else 1)
        assert got.count() == orders.count() + len(prices) - 1


@pytest.mark.parametrize("op", ["merge_upsert", "merge_when",
                                "apply_changes", "delete_keys_dv"])
def test_lost_race_retry_reads_meta_at_its_base(spark, tmp_path, op):
    """A CHECK constraint that lands while a write is in flight governs
    the write's retry: every attempt reads the meta at its own base.
    The upserts then reject their non-positive rows with the usual
    error, and a DV delete that first stamps the deletion_vectors
    feature keeps the constraint in the meta it commits."""
    root = str(tmp_path / "t")
    t = TxTable(spark, root)
    t.create(spark.createDataFrame([(k, k + 1.0) for k in range(20)],
                                   "k long, v double"), "k", n_files=2)
    t._pre_commit_hook = lambda: TxTable(spark, root).add_constraint(
        "v_pos", "v > 0")
    bad = spark.createDataFrame([(1, -1.0), (25, 0.0)], "k long, v double")
    if op == "delete_keys_dv":
        assert t.delete_keys_dv(bad.select("k"))["rows_deleted"] == 1
    else:
        with pytest.raises(ValueError, match=r"CHECK constraint 'v_pos' "
                                             r".* write rejected"):
            _keyset_op(t, op, bad)
    assert t.snapshot().where("v <= 0").count() == 0
    assert t._state()[0]["constraints"] == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="CHECK constraint 'v_pos'"):
        t.append(bad)


@pytest.mark.parametrize("race", ["add_constraint", "data_append"])
def test_append_lost_race_checks_the_head_meta(spark, tmp_path, race):
    """A plain append that loses its commit race re-checks its batch
    only when a meta action landed after its base: a concurrent CHECK
    constraint rejects the batch with the usual error, and a concurrent
    data-only append lets it re-commit the files it already wrote."""
    root = str(tmp_path / "t")
    t = TxTable(spark, root)
    t.create(spark.createDataFrame([(k, k + 1.0) for k in range(20)],
                                   "k long, v double"), "k", n_files=2)
    if race == "add_constraint":
        t._pre_commit_hook = lambda: TxTable(spark, root).add_constraint(
            "v_pos", "v > 0")
    else:
        t._pre_commit_hook = lambda: TxTable(spark, root).append(
            spark.createDataFrame([(30, 1.0)], "k long, v double"))
    writes = []
    real_write = t._write_files

    def counting_write(*a, **k):
        writes.append(1)
        return real_write(*a, **k)

    t._write_files = counting_write
    bad = spark.createDataFrame([(40, -1.0)], "k long, v double")
    if race == "add_constraint":
        with pytest.raises(ValueError, match=r"CHECK constraint 'v_pos' "
                                             r".* write rejected"):
            t.append(bad)
        assert t.snapshot().where("v <= 0").count() == 0
        assert t._state()[0]["constraints"] == {"v_pos": "v > 0"}
    else:
        t.append(bad)
        assert len(writes) == 1
        assert t.snapshot().count() == 22
        assert [r["k"] for r in t.snapshot().where("v <= 0").collect()] \
            == [40]
        assert t.vacuum_uncommitted(older_than_s=0.0) == []


def test_empty_writes_leave_no_orphan_file(spark, tmp_path):
    """A write's zero-row part files get no add action and are unlinked:
    an empty create and a delete that empties a touched file leave
    nothing for vacuum_uncommitted to reclaim."""
    t = TxTable(spark, str(tmp_path / "e"))
    t.create(spark.createDataFrame([], "k long, v double"), "k")
    assert t.snapshot().count() == 0
    assert t.vacuum_uncommitted(older_than_s=0.0) == []
    u = TxTable(spark, str(tmp_path / "d"))
    u.create(spark.range(0, 20).select(F.col("id").alias("k"),
                                       F.lit(1.0).alias("v")),
             "k", n_files=2)
    first = min(u._state()[1].values(), key=lambda a: a["kmin"])
    doomed = spark.range(first["kmin"], first["kmax"] + 1) \
                  .select(F.col("id").alias("k"))
    assert u.delete_keys(doomed)["files_rewritten"] == 1
    assert u.snapshot().count() == 20 - first["rows"]
    assert u.vacuum_uncommitted(older_than_s=0.0) == []


def test_reader_feature_fence(spark, orders, tmp_path):
    """Table-features protocol: reader-critical features stamp into meta
    atomically with first use; a feature from a future format revision
    fences this reader out LOUDLY instead of silently mis-reading."""
    from walmart_project_etl_spark.sources.txlog import \
        UnsupportedTableFeatureError
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders, "o_orderkey")
    meta0 = t._state()[0]
    assert not meta0.get("reader_features")     # plain table: no fence
    t.delete_keys_dv(spark.createDataFrame(
        [(7,), (107,)], "o_orderkey long"))
    meta = t._state()[0]
    assert meta["reader_features"] == ["deletion_vectors"]
    assert t.snapshot().where("o_orderkey in (7, 107)").count() == 0
    # a FUTURE feature: this build must refuse to read
    v = t.versions()[-1] + 1
    assert t._commit(
        [{"op": "evolve"},
         {"meta": {**meta, "reader_features":
                   ["deletion_vectors", "row_encryption_v9"]}}], v)
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        t.snapshot().count()
    assert "row_encryption_v9" in str(ei.value)
    # time travel BEFORE the upgrade commit still reads fine
    assert t.snapshot(v - 1).count() > 0


def test_partition_evolution_conservative_then_materialized(
        spark, orders, tmp_path):
    """Iceberg-style partition evolution: a metadata-only layout change;
    old-layout files scan conservatively (results exact via the
    residual), new writes prune under the new scheme, compact()
    materializes the migration, and replace_where refuses to run on a
    half-migrated table."""
    import pytest as _pytest
    o = orders.withColumn("band", (F.col("o_custkey") % 3).cast("long"))
    t = TxTable(spark, str(tmp_path / "t"))
    half = o.where("o_orderkey % 2 = 0")
    t.create(half, "o_orderkey", partition_by="o_orderstatus", n_files=4)
    t.alter_partitioning(["band"])
    meta = t._state()[0]
    assert meta["partition_by"] == "band"
    assert "partition_evolution" in meta["reader_features"]
    # exact results immediately: old files conservatively scanned
    got = sorted(r["o_orderkey"]
                 for r in t.read_partitions([1]).collect())
    want = sorted(r["o_orderkey"]
                  for r in half.where("band = 1").collect())
    assert got == want
    # new writes stamp the new layout and prune by it
    t.append(o.where("o_orderkey % 2 = 1"))
    _, live = t._state()
    new_adds = [a for a in live.values() if a.get("pby") == ["band"]]
    old_adds = [a for a in live.values()
                if a.get("pby") == ["o_orderstatus"]]
    assert new_adds and old_adds
    got2 = sorted(r["o_orderkey"]
                  for r in t.read_partitions([1]).collect())
    want2 = sorted(r["o_orderkey"]
                   for r in o.where("band = 1").collect())
    assert got2 == want2
    # replaceWhere refuses while old-layout files are live
    with _pytest.raises(ValueError, match="partition layout"):
        t.replace_where(1, o.where("band = 1").limit(10))
    # OPTIMIZE materializes the evolution; then replaceWhere is exact
    t.compact(target_rows=10**6)
    _, live2 = t._state()
    assert all(a.get("pby") == ["band"] for a in live2.values())
    t.replace_where(2, o.where("band = 2 AND o_orderkey % 5 = 0"))
    got3 = t.snapshot().where("band = 2").count()
    assert got3 == o.where("band = 2 AND o_orderkey % 5 = 0").count()


def test_in_commit_timestamps_monotone_under_clock_skew(
        spark, orders, tmp_path, monkeypatch):
    """ICT: a writer whose clock runs BEHIND the previous committer's
    still stamps a later timestamp, so TIMESTAMP AS OF cuts stay
    well-ordered across writers."""
    import time as _time

    import walmart_project_etl_spark.sources.txlog as txmod
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10), "o_orderkey")
    t.append(orders.where("o_orderkey % 7 = 1").limit(5))
    real = _time.time
    skewed = real() - 3600.0             # an hour in the past
    monkeypatch.setattr(txmod.time, "time", lambda: skewed)
    try:
        other = TxTable(spark, str(tmp_path / "t"))
        other.append(orders.where("o_orderkey % 7 = 2").limit(5))
    finally:
        monkeypatch.setattr(txmod.time, "time", real)
    stamps = []
    for v in t.versions():
        acts = t._read_commit(v)
        stamps.append(next(a["ts"] for a in acts
                           if "op" in a and "ts" in a))
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    # the skewed commit resolves AFTER its predecessor for AS OF reads
    assert t.version_at(stamps[1]) == 1
    assert t.version_at(stamps[2]) == 2


# ------------------------------------------- per-commit pins, validation


def test_merge_paths_release_pinned_frames(spark, tmp_path):
    """merge/apply/delete/append pin their source frame per commit and
    MUST release it on every exit path — a leak here grows the block
    manager by one cached plan per commit forever (the suite's leak
    census fails the test if one is left behind)."""
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    tt = TxTable(spark, str(tmp_path / "tt"))
    tt.create(df, "k", n_files=2, change_feed=True)

    tt.append(spark.range(200, 260).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    tt.merge_upsert(spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")))
    tt.merge_when(
        spark.range(20, 60).select(F.col("id").alias("k"),
                                   (F.col("id") * 9).alias("v")),
        update_cond="src.v > tgt.v")
    tt.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")))
    tt.delete_keys_dv(spark.range(10, 15).select(F.col("id").alias("k")))
    tt.apply_changes(
        spark.range(15, 25).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
            F.lit("insert").alias("_change_type")))

    want = {k: 3 * k if k < 25 else 9 * k if k < 60 else 2 * k
            for k in range(15, 260)}
    assert {r["k"]: r["v"] for r in tt.snapshot().collect()} == want


def test_refresh_agg_mv_releases_pins(spark, tmp_path):
    from walmart_project_etl_spark.operators.matview import refresh_agg_mv

    root = str(tmp_path / "tt")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v"))
    src = TxTable(spark, root)
    src.create(df, "k", n_files=2, change_feed=True)
    mv = refresh_agg_mv(spark, src, root + "_mv", ["g"], "v")
    assert mv.snapshot().count() == 3


def test_validation_single_pass_same_messages(spark, tmp_path):
    """The one-job validation must raise the FIRST violated check in
    declaration order with the same message as the per-check jobs."""
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("v"))
    tt = TxTable(spark, str(tmp_path / "tt"))
    tt.create(df, "k", n_files=1)
    tt.add_constraint("v_pos", "v > 0")
    tt.add_constraint("v_cap", "v < 1000")
    # violates BOTH → the first declared one raises
    bad = spark.range(50, 52).select(
        F.col("id").alias("k"), F.lit(-5).cast("long").alias("v"))
    with pytest.raises(ValueError, match="CHECK constraint 'v_pos'"):
        tt.append(bad)
    # clean rows still pass
    tt.append(spark.range(52, 54).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("v")))


def _spec_bloom(spark, path: str, col: str, bits: int) -> int:
    """The bloom spec over every row of one file, NULL rows included:
    bit ``pmod(xxhash64(v, i), bits)`` set for every probe i."""
    from walmart_project_etl_spark.sources.txlog import _BLOOM_K

    want = 0
    for r in spark.read.parquet(path).select(F.array(*[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits))
            for i in range(_BLOOM_K)]).alias("p")).collect():
        for p in r["p"]:
            want |= 1 << int(p)
    return want


def test_key_bloom_bits_exact_vs_spec(spark, tmp_path):
    """The one tagged (file, tag, word) bit_or fold must log blooms
    bit-identical to the spec, for the key and for every ``bloom_cols``
    column (NULLs included), on plain and partitioned tables."""
    from walmart_project_etl_spark.sources.txlog import _BLOOM_BITS

    ids = spark.range(0, 500)
    tables = {
        "key_only": (ids.select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v")),
                     dict(n_files=3)),
        "two_bloom_cols": (ids.select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 5 != 0, (F.col("id") % 37).cast("string"))
             .alias("s"),
            F.when(F.col("id") % 7 != 0, F.col("id") * 3).alias("n")),
            dict(n_files=3, bloom_cols=["s", "n"], bloom_bits=2048)),
        "partitioned": (ids.select(F.col("id").alias("k"),
                                   (F.col("id") % 3).cast("int").alias("g"),
                                   (F.col("id") % 11).alias("n")),
                        dict(partition_by="g", bloom_cols=["n"])),
    }
    for name, (df, kw) in tables.items():
        tt = TxTable(spark, str(tmp_path / name))
        tt.create(df, "k", **kw)
        meta, live = tt._state()
        assert len(live) == 3, name
        for a in live.values():
            path = os.path.join(tt.data_dir, a["path"])
            assert int(a["bloom"], 16) == \
                _spec_bloom(spark, path, "k", _BLOOM_BITS), (name, a)
            for c in kw.get("bloom_cols", []):
                assert int(a["cblooms"][c], 16) == _spec_bloom(
                    spark, path, c, meta["bloom_bits"]), (name, c, a)


def _file_stats(spark, path: str, key: str, stats_cols: list[str],
                pcol: str | None) -> dict:
    """A Spark aggregate over one data file, in add-action form: the
    reference the footer-read stats must equal."""
    df = spark.read.parquet(path)
    types = dict(df.dtypes)

    def v(c):
        return F.col(c) if types[c] in ("int", "bigint", "string") \
            else F.col(c).cast("string")

    aggs = [F.count(F.lit(1)), F.min(key), F.max(key)]
    for c in stats_cols:
        aggs += [F.min(v(c)), F.max(v(c)),
                 F.sum(F.col(c).isNull().cast("long"))]
    if pcol:
        aggs.append(F.first(pcol))
    r = list(df.agg(*aggs).first())
    out = {"rows": r[0], "kmin": r[1], "kmax": r[2]}
    if stats_cols:
        out["cstats"] = {c: [r[3 + 3 * i], r[4 + 3 * i]]
                         for i, c in enumerate(stats_cols)}
        out["cnulls"] = {c: r[5 + 3 * i] for i, c in enumerate(stats_cols)}
    if pcol:
        out["pval"] = r[-1]
    return out


_FOOTER_CASES = {
    # (key type, stats columns, partition column, footer path taken)
    "bigint_key_int_string_date": ("bigint", ["i", "s", "d"], None, True),
    "string_key_fallback_types": ("string", ["x", "ts", "dec"], None, False),
    "long_string": ("bigint", ["s", "long"], None, False),
    "partitioned": ("bigint", ["i", "d"], "g", True),
}


@pytest.mark.parametrize("case", sorted(_FOOTER_CASES))
def test_footer_stats_equal_file_aggregate(spark, tmp_path, case):
    """Every add action's rows, kmin/kmax, cstats, cnulls and pval equal
    a Spark aggregate over its file, whether they came from the parquet
    footers or (double with NaN, timestamp, decimal, a >4 KB string)
    from the fallback aggregate. Includes NULLs, the calendar edge
    dates, and an appended file whose stats column is all NULL."""
    from decimal import Decimal

    from walmart_project_etl_spark.sources.txlog import _footer_stats

    ktype, stats_cols, pcol, footer = _FOOTER_CASES[case]
    date = datetime.date
    edge = [date(1, 1, 1), date(1582, 10, 4), date(9999, 12, 31)]
    rows = [(i if ktype == "bigint" else f"k{i:04d}",
             None if i % 4 == 0 else i * 7 - 100,
             None if i % 5 == 0 else f"s{i % 13}",
             edge[i] if i < 3 else date(2020, 1, 1 + i % 28),
             float("nan") if i == 9 else None if i == 10 else i / 4,
             datetime.datetime(2021, 3, 1, i % 24, 5),
             Decimal(i) / 100,
             ("z" * 5000) if i == 30 else "a",
             i % 3)
            for i in range(60)]
    schema = (f"k {ktype}, i int, s string, d date, x double, "
              f"ts timestamp, dec decimal(10,2), long string, g int")
    df = spark.createDataFrame(rows, schema)
    tt = TxTable(spark, str(tmp_path / "t"))
    tt.create(df, "k", n_files=2, stats_cols=stats_cols, partition_by=pcol)
    # a later write whose stats columns are all NULL in its file
    nulls = df.limit(1).select(
        *[F.lit(None).cast(t).alias(c) if c in stats_cols
          and c != pcol else F.col(c) for c, t in df.dtypes])
    nulls = nulls.withColumn(
        "k", F.lit(10_000 if ktype == "bigint" else "k9999").cast(ktype))
    tt.append(nulls)
    _, live = tt._state()
    assert len(live) >= 3
    types = dict(df.dtypes)
    need = {c: types[c] for c in ["k", *stats_cols, *filter(None, [pcol])]}
    paths = [os.path.join(tt.data_dir, a["path"]) for a in live.values()]
    for a, path in zip(live.values(), paths):
        got = {f: a[f] for f in ("rows", "kmin", "kmax", "cstats",
                                 "cnulls", "pval") if f in a}
        assert got == _file_stats(spark, path, "k", stats_cols, pcol), a
    assert all(_footer_stats(p, need) is not None for p in paths) == footer
    assert any(set(a["cnulls"].values()) == {a["rows"]}
               for a in live.values())
    assert tt.snapshot().count() == 61


def test_footer_stats_empty_create_commits_no_file(spark, tmp_path):
    tt = TxTable(spark, str(tmp_path / "t"))
    tt.create(spark.createDataFrame([], "k bigint, d date"), "k",
              stats_cols=["d"], bloom_cols=["k"])
    _, live = tt._state()
    assert live == {}
    assert tt.snapshot().count() == 0


def test_footer_stats_combines_row_groups(tmp_path):
    """Row groups fold: min of mins, max of maxes, summed NULL counts,
    with all-NULL chunks contributing no bounds; a type the footer
    cannot order like Spark (double) answers None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walmart_project_etl_spark.sources.txlog import _footer_stats

    path = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({
        "n": pa.array([5, None, -3, 9, None, None, 2], pa.int64()),
        "s": pa.array(["b", "é", None, "a", None, None, "zz"]),
        "d": pa.array([datetime.date(2000, 1, 2), None,
                       datetime.date(1, 1, 1), None, None, None,
                       datetime.date(9999, 12, 31)]),
        "z": pa.array([None] * 7, pa.int32()),
        "x": pa.array([1.0] * 7),
    }), path, row_group_size=2)
    assert pq.read_metadata(path).num_row_groups == 4
    types = {"n": "bigint", "s": "string", "d": "date", "z": "int"}
    assert _footer_stats(path, types) == (7, {
        "n": [-3, 9, 3], "s": ["a", "é", 3],
        "d": ["0001-01-01", "9999-12-31", 4], "z": [None, None, 7]})
    assert _footer_stats(path, {**types, "x": "double"}) is None


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution (ids are sequential; the store's
    count stops at its retained maximum)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList(max(store.executionsCount() - 1, 0), 1)
    return last.apply(0).executionId() if last.size() else -1


def test_read_col_in_probes_without_a_job(spark, tmp_path):
    """The probe values plan as a local relation: building a bloom
    lookup, or a lookup on the key column (its literal keys deduped and
    range-checked on the driver), submits no Spark job; an empty value
    list reads 0 rows."""
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 17).cast("string")
        .alias("name"))
    tt = TxTable(spark, str(tmp_path / "t"))
    tt.create(df, "k", n_files=3, bloom_cols=["name"])
    before = _job_ids(spark)
    got = tt.read_col_in("name", ["3", "5", "3"])
    keys = tt.read_col_in("k", [4, 4, 7])
    far = tt.read_col_in("k", [1000, None])
    empty = tt.read_col_in("k", [])
    assert _job_ids(spark) == before
    assert got.count() == 24
    assert sorted(r["k"] for r in keys.collect()) == [4, 7]
    assert len(keys.inputFiles()) == 1
    assert far.inputFiles() == [] and far.count() == 0
    assert empty.count() == 0
    assert tt.read_col_in("name", []).count() == 0


@pytest.mark.parametrize("change_feed", [False, True],
                         ids=["cdf_off", "cdf_on"])
@pytest.mark.parametrize("op", ["merge_upsert", "merge_when",
                                "apply_changes", "delete_keys"])
def test_merge_upsert_metadata_runs_one_query(spark, tmp_path, op,
                                              change_feed):
    """A key-set DML commit on a table with stats and bloom columns runs
    3 SQL executions: the pruner's probe collect, the data write and the
    one bloom fold (stats come from the footers; there were 5 when the
    stats and each bloom ran their own query). The change feed adds its
    one write. Every key-set op shares the count."""
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 9).cast("int").alias("g"),
        (F.col("id") % 23).cast("string").alias("name"))
    tt = TxTable(spark, str(tmp_path / "t"))
    tt.create(df, "k", n_files=3, stats_cols=["g"], bloom_cols=["name"],
              change_feed=change_feed)
    upd = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit(1).alias("g"),
        F.lit("x").alias("name"))
    run = {"merge_upsert": lambda: tt.merge_upsert(upd),
           "merge_when": lambda: tt.merge_when(upd),
           "apply_changes": lambda: tt.apply_changes(
               upd.withColumn("_change_type", F.lit("insert"))),
           "delete_keys": lambda: tt.delete_keys(upd.select("k"))}[op]
    before = _last_execution_id(spark)
    run()
    assert _last_execution_id(spark) - before == 3 + change_feed
    if op == "delete_keys":
        assert tt.snapshot().where("k BETWEEN 10 AND 19").count() == 0
    else:
        assert tt.snapshot().where("name = 'x'").count() == 10
