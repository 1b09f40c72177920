"""Incrementally maintained MATERIALIZED AGGREGATE VIEW over a tx table.

The lakehouse MV loop: a grouped count/sum aggregate of a 100 TB source
table, kept fresh for the cost of the source's CHANGES — never a
re-aggregation. Composes the table format's own primitives:

- the source's CHANGE DATA FEED supplies exact row-level deltas
  (insert / delete / update pre+post images);
- the delta folds into per-group (count, decimal sum) — both
  self-inverting under the feed's sign convention (insert +1/+x,
  delete -1/-x, update = post - pre), so the fold is exact in any
  order at any parallelism;
- the MV is itself a tx table keyed on an md5 of the group columns;
  the refresh applies ONE conditional merge (``merge_when`` with
  ``delete_cond="src.n_rows = 0"`` — groups whose last row vanished
  drop out of the view);
- the refresh's ``txn=(app, source_version)`` marker makes it
  EXACTLY-ONCE and restart-safe: a replayed refresh is a logged no-op,
  and the marker doubles as the watermark for the next refresh.

Cost per refresh at scale: O(changed rows) to read the feed + one
pruned merge touching only the changed groups' files.

Design lineage: the public incremental view-maintenance literature
(delta rules for SUM/COUNT aggregates) + the Delta-CDF recipe for
downstream aggregate maintenance; reference repo has no analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from walmart_project_etl_spark.operators.util import pins

#: txn app name under which refreshes mark their source watermark
MV_APP = "agg_mv_refresh"


def _group_key(group_cols: list[str]):
    return F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string")
                                       for c in group_cols]))


def _delta(changes: DataFrame, group_cols: list[str],
           sum_col: str) -> DataFrame:
    """Per-group (n_rows, total) delta from a CDF slice — the classic
    delta rule: inserts/post-images count +, deletes/pre-images -."""
    sign = F.when(F.col("_change_type").isin("insert",
                                             "update_postimage"), 1) \
            .otherwise(-1)
    val = (F.col(sum_col).cast("double").cast("decimal(28,6)")
           * sign.cast("decimal(28,6)"))
    return (changes
            .withColumn("__sign", sign.cast("long"))
            .withColumn("__val", val)
            .groupBy(*group_cols)
            .agg(F.sum("__sign").alias("n_rows"),
                 F.sum("__val").cast("decimal(28,6)").alias("total")))


def refresh_agg_mv(spark: SparkSession, source, mv_root: str,
                   group_cols: list[str], sum_col: str,
                   upto_version: int | None = None,
                   enrich=None):
    """Create-or-refresh the MV at ``mv_root`` from ``source``'s change
    feed. Returns the MV TxTable. Idempotent: re-running against an
    unchanged source (or replaying after a crash between the MV commit
    and the caller's own bookkeeping) is a logged no-op.
    ``upto_version`` bounds the fold (a stream-paced caller folds to
    its micro-batch's last commit; default = the source's latest).

    Concurrency: the txn watermark and the current-group read are BOTH
    derived from one pinned MV version (``base``), mirroring the table
    writers' pinned-base pattern — a concurrent refresh committing
    between the two reads can no longer make ``cur`` inconsistent with
    the watermark (double-counted deltas). If that concurrent refresh
    folded a lower source version, this refresh's merge simply
    overwrites the touched groups with the correctly-folded state; the
    exactly-once ``txn`` marker skips true replays.

    Recovery: a row-TRACKED source RESTORE (the common case — see
    :meth:`TxTable.restore`) simply folds through as ordinary
    insert/delete deltas, keeping the O(changed rows) contract. Only
    an UNTRACKED restore (pre-row-tracking, or across a schema change)
    raises :class:`ChangeFeedRestoredError` from the feed read — the
    refresh then falls back to a FULL RESYNC (re-aggregate the source
    snapshot at ``src_version``, delete stale groups).

    ``enrich`` turns this into a JOIN-AGGREGATE view (the star-rollup
    MV): a callback applied to the change rows before the delta fold
    (and to the snapshot on resync), letting ``group_cols`` come from a
    joined dimension. The delta rule stays exact because the callback
    must be ROW-WISE 1:1 and STATELESS over a static dimension — an
    inner equi-join on a NOT-NULL FK against a broadcast dim (or any
    per-row mapping) qualifies; it must preserve ``_change_type`` and
    ``sum_col``, and a dim UPDATE is out of contract (re-create the MV
    or resync — same rule Delta's CDF-maintained aggregates live by)."""
    from walmart_project_etl_spark.sources.txlog import (
        ChangeFeedRestoredError, TxTable)

    mv = TxTable(spark, mv_root)
    src_version = upto_version if upto_version is not None \
        else source.versions()[-1]
    schema = ("mv_key string, " +
              ", ".join(f"{c} string" for c in group_cols) +
              ", n_rows long, total decimal(28,6)")
    if not mv.versions():
        mv.create(spark.createDataFrame([], schema), "mv_key")
    base = mv.versions()[-1]            # pinned read (see docstring)
    last = mv.last_txn(MV_APP, version=base)
    if src_version <= last:
        return mv                       # already folded — no-op
    with pins() as pin:
        try:
            changes = source.read_changes(since_version=last + 1,
                                          upto=src_version)
        except ChangeFeedRestoredError:
            upserts = _resync_plan(mv, base, source, src_version,
                                   group_cols, sum_col, enrich)
        else:
            if enrich is not None:
                changes = enrich(changes)
            # pinned for the refresh: the delta (touched-groups-sized,
            # tiny by construction) feeds the pruned current-state read,
            # both sides of the fold, and — via the merge's own passes —
            # the key pruner and the file rewrite; uncached, every one
            # of those replays the change-feed read + the delta
            # aggregation
            delta = pin(_delta(changes, group_cols, sum_col)
                        .withColumn("mv_key", _group_key(group_cols)))
            # fold MV state AT base for ONLY the touched groups (pruned)
            cur = mv.read_matching(delta.select("mv_key"), version=base)
            upserts = (cur.select("mv_key", "n_rows", "total")
                       .unionByName(delta.select("mv_key", "n_rows",
                                                 "total"))
                       .groupBy("mv_key")
                       .agg(F.sum("n_rows").alias("n_rows"),
                            F.sum("total").cast("decimal(28,6)")
                             .alias("total"))
                       .join(delta.select("mv_key", *group_cols), "mv_key")
                       .select("mv_key",
                               *[F.col(c).cast("string").alias(c)
                                 for c in group_cols],
                               "n_rows", "total"))
        # delete groups folding to zero; never INSERT one (a group
        # created and fully deleted inside the same window must not
        # materialize)
        mv.merge_when(upserts, delete_cond="src.n_rows = 0",
                      insert_cond="src.n_rows <> 0",
                      txn=(MV_APP, src_version))
    return mv


def _resync_plan(mv, base: int, source, src_version: int,
                 group_cols: list[str], sum_col: str,
                 enrich=None) -> DataFrame:
    """Full-resync merge source: the complete re-aggregate of the
    source snapshot at ``src_version``, plus a zero-count tombstone
    for every group live in the MV (at ``base``) but absent from the
    re-aggregate — the merge's delete clause drops those."""
    val = F.col(sum_col).cast("double").cast("decimal(28,6)")
    snap = source.snapshot(src_version)
    if enrich is not None:
        snap = enrich(snap)
    full = (snap
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(val).cast("decimal(28,6)").alias("total"))
            .withColumn("mv_key", _group_key(group_cols))
            .select("mv_key",
                    *[F.col(c).cast("string").alias(c)
                      for c in group_cols],
                    "n_rows", "total"))
    stale = (mv.snapshot(base)
             .select("mv_key", *group_cols)
             .join(full.select("mv_key"), "mv_key", "left_anti")
             .withColumn("n_rows", F.lit(0).cast("long"))
             .withColumn("total", F.lit(None).cast("decimal(28,6)")))
    return full.unionByName(stale)


#: txn app name for the min/max MV's watermark
MV_MINMAX_APP = "agg_mv_minmax_refresh"


def refresh_agg_mv_minmax(spark: SparkSession, source, mv_root: str,
                          group_cols: list[str], val_col: str,
                          upto_version: int | None = None):
    """Create-or-refresh a grouped (count, MIN, MAX) materialized view
    from ``source``'s change feed — the standard IVM treatment of
    non-self-inverting aggregates:

    - INSERTS maintain extremes incrementally for free:
      ``new_min = least(cur_min, min(inserted))`` (same for max);
    - a DELETE (or update pre-image) that ties the group's would-be
      extreme is the one case the delta cannot answer — the next-best
      value was never materialized — so ONLY those groups recompute
      from the source, through the most-pruned read the source's
      layout offers (partition pruning when the group columns are the
      partition columns, per-file stats skipping when declared,
      full-scan fallback otherwise). Deletes that don't touch an
      extreme stay incremental.

    Same exactly-once shape as :func:`refresh_agg_mv`: pinned-base MV
    read, one conditional merge, ``txn=(app, source_version)`` marker,
    zero-count groups dropped, full resync on a source RESTORE.
    Cost per refresh: O(changed rows) + O(files of recomputed groups).
    """
    from walmart_project_etl_spark.sources.txlog import (
        ChangeFeedRestoredError, TxTable)

    mv = TxTable(spark, mv_root)
    src_version = upto_version if upto_version is not None \
        else source.versions()[-1]
    schema = ("mv_key string, " +
              ", ".join(f"{c} string" for c in group_cols) +
              ", n_rows long, vmin decimal(28,6), vmax decimal(28,6)")
    if not mv.versions():
        mv.create(spark.createDataFrame([], schema), "mv_key")
    base = mv.versions()[-1]            # pinned read (see refresh_agg_mv)
    last = mv.last_txn(MV_MINMAX_APP, version=base)
    if src_version <= last:
        return mv                       # already folded — no-op
    with pins() as pin:
        try:
            changes = source.read_changes(since_version=last + 1,
                                          upto=src_version)
        except ChangeFeedRestoredError:
            upserts = _minmax_resync_plan(mv, base, source, src_version,
                                          group_cols, val_col)
        else:
            upserts = _minmax_delta_plan(mv, base, source, src_version,
                                         group_cols, val_col, changes,
                                         pin)
        mv.merge_when(upserts, delete_cond="src.n_rows = 0",
                      insert_cond="src.n_rows <> 0",
                      txn=(MV_MINMAX_APP, src_version))
    return mv


def _minmax_agg(val_col: str):
    val = F.col(val_col).cast("double").cast("decimal(28,6)")
    return [F.count(F.lit(1)).alias("n_rows"),
            F.min(val).alias("vmin"), F.max(val).alias("vmax")]


def _minmax_delta_plan(mv, base, source, src_version, group_cols,
                      val_col, changes, pin) -> DataFrame:
    val = F.col(val_col).cast("double").cast("decimal(28,6)")
    is_add = F.col("_change_type").isin("insert", "update_postimage")
    # pinned like refresh_agg_mv's delta: read by the current-state
    # pruner, the fold join, and (through flagged) both merge branches
    delta = pin(changes
                .groupBy(*group_cols)
                .agg(F.sum(F.when(is_add, 1).otherwise(-1)).alias("nd"),
                     F.min(F.when(is_add, val)).alias("ins_min"),
                     F.max(F.when(is_add, val)).alias("ins_max"),
                     F.min(F.when(~is_add, val)).alias("del_min"),
                     F.max(F.when(~is_add, val)).alias("del_max"))
                .withColumn("mv_key", _group_key(group_cols)))
    cur = mv.read_matching(delta.select("mv_key"), version=base) \
            .select("mv_key", F.col("n_rows").alias("cur_n"),
                    F.col("vmin").alias("cur_min"),
                    F.col("vmax").alias("cur_max"))
    m = delta.join(cur, "mv_key", "left")
    new_n = (F.coalesce("cur_n", F.lit(0)) + F.col("nd")).alias("n_rows")
    # least/greatest skip NULLs, so a missing side falls through
    cand_min = F.least("cur_min", "ins_min")
    cand_max = F.greatest("cur_max", "ins_max")
    # the IVM fallback trigger: a removed value at-or-past the
    # candidate extreme means the true extreme may live in rows the
    # delta never saw (NULL-valued deletes can never tie an extreme)
    need = (F.coalesce(F.col("del_min") <= cand_min, F.lit(False))
            | F.coalesce(F.col("del_max") >= cand_max, F.lit(False))) \
        & (new_n > 0)
    # read by rec_groups (twice — driver collect + semi join) and the
    # plain branch; uncached each re-runs the fold join
    flagged = pin(m.select("mv_key", *group_cols, new_n,
                           cand_min.alias("vmin"), cand_max.alias("vmax"),
                           need.alias("__need")))
    rec_groups = flagged.where("__need").select(*group_cols).distinct()
    plain = (flagged.where(~F.col("__need"))
             .select("mv_key",
                     *[F.col(c).cast("string").alias(c)
                       for c in group_cols],
                     "n_rows", "vmin", "vmax"))
    exact = (_pruned_group_rows(source, src_version, group_cols,
                                rec_groups)
             .join(rec_groups, group_cols, "semi")
             .groupBy(*group_cols)
             .agg(*_minmax_agg(val_col))
             .withColumn("mv_key", _group_key(group_cols))
             .select("mv_key",
                     *[F.col(c).cast("string").alias(c)
                       for c in group_cols],
                     "n_rows", "vmin", "vmax"))
    return plain.unionByName(exact)


def _pruned_group_rows(source, src_version, group_cols,
                       rec_groups) -> DataFrame:
    """Source rows for the groups needing recomputation, through the
    most-pruned read the source's declared layout offers. The group
    values collect driver-side — metadata-plane: bounded by the number
    of groups whose extreme was deleted in one refresh window, the
    same order as the merge's own bloom-probe collect."""
    from walmart_project_etl_spark.sources.txlog import _meta_parts

    meta = source._state(src_version)[0]
    pcols = _meta_parts(meta) or []
    scols = meta.get("stats_cols") or []
    if list(group_cols) == pcols:
        vals = [tuple(r[c] for c in group_cols)
                for r in rec_groups.collect()]
        if not vals:
            return source.snapshot(src_version).limit(0)
        return source.read_partitions(
            [v[0] for v in vals] if len(group_cols) == 1 else vals,
            version=src_version)
    if len(group_cols) == 1 and group_cols[0] in scols:
        b = rec_groups.agg(F.min(group_cols[0]).alias("lo"),
                           F.max(group_cols[0]).alias("hi")).first()
        if b["lo"] is None:
            return source.snapshot(src_version).limit(0)
        return source.read_where(stats={group_cols[0]: (b["lo"],
                                                        b["hi"])},
                                 version=src_version)
    return source.snapshot(src_version)


#: txn app name for the avg/approx-distinct MV's watermark
MV_AVGDIST_APP = "agg_mv_avgdist_refresh"

#: HLL sketch precision for the maintained distinct state (~1.6% rel err)
MV_HLL_LG_K = 12


def refresh_agg_mv_avg_distinct(spark: SparkSession, source, mv_root: str,
                                group_cols: list[str], val_col: str,
                                distinct_col: str,
                                upto_version: int | None = None):
    """Create-or-refresh a grouped (count, sum→AVG, approx
    COUNT(DISTINCT)) materialized view from ``source``'s change feed —
    completing the MV family (count/sum r9, min/max r11) with the two
    remaining common BI aggregates:

    - AVG is never stored: the state keeps the exact self-inverting
      (count, decimal sum) pair and :func:`finalize_avg_distinct`
      derives it at read time, so the fold stays exact in any order;
    - DISTINCT state is a Datasketches HLL sketch (binary) per group.
      INSERTS maintain it incrementally for free — sketches union
      losslessly (union of partials == sketch of the union, proven in
      tests), so ``new_hll = hll_union(cur_hll, sketch(inserted))``;
      a DELETE (or update pre-image) with a non-NULL distinct value is
      the case the sketch cannot answer — registers don't subtract and
      other rows may still carry the value — so ONLY those groups
      recompute their sketch from the source through the most-pruned
      read the layout offers (:func:`_pruned_group_rows`), the exact
      IVM-fallback shape min/max uses. NULL-valued removals never
      enter a sketch and stay incremental.

    Same exactly-once contract as :func:`refresh_agg_mv`: pinned-base
    MV read, one conditional merge, ``txn=(app, source_version)``
    marker, zero-count groups dropped, full resync on an untracked
    source RESTORE. Cost per refresh: O(changed rows) + O(files of
    sketch-recomputed groups).
    """
    from walmart_project_etl_spark.sources.txlog import (
        ChangeFeedRestoredError, TxTable)

    mv = TxTable(spark, mv_root)
    src_version = upto_version if upto_version is not None \
        else source.versions()[-1]
    schema = ("mv_key string, " +
              ", ".join(f"{c} string" for c in group_cols) +
              ", n_rows long, total decimal(28,6), hll binary")
    if not mv.versions():
        mv.create(spark.createDataFrame([], schema), "mv_key")
    base = mv.versions()[-1]            # pinned read (see refresh_agg_mv)
    last = mv.last_txn(MV_AVGDIST_APP, version=base)
    if src_version <= last:
        return mv                       # already folded — no-op
    with pins() as pin:
        try:
            changes = source.read_changes(since_version=last + 1,
                                          upto=src_version)
        except ChangeFeedRestoredError:
            upserts = _avgdist_resync_plan(mv, base, source, src_version,
                                           group_cols, val_col,
                                           distinct_col)
        else:
            upserts = _avgdist_delta_plan(mv, base, source, src_version,
                                          group_cols, val_col,
                                          distinct_col, changes, pin)
        mv.merge_when(upserts, delete_cond="src.n_rows = 0",
                      insert_cond="src.n_rows <> 0",
                      txn=(MV_AVGDIST_APP, src_version))
    return mv


def _avgdist_agg(val_col: str, distinct_col: str):
    val = F.col(val_col).cast("double").cast("decimal(28,6)")
    return [F.count(F.lit(1)).alias("n_rows"),
            F.sum(val).cast("decimal(28,6)").alias("total"),
            F.hll_sketch_agg(distinct_col, F.lit(MV_HLL_LG_K))
             .alias("hll")]


def _hll_merge(a, b):
    """NULL-tolerant pairwise sketch union: a brand-new group has no
    current sketch; an all-NULL-valued insert batch has no delta one."""
    return (F.when(a.isNull(), b).when(b.isNull(), a)
            .otherwise(F.hll_union(a, b)))


def _avgdist_delta_plan(mv, base, source, src_version, group_cols,
                        val_col, distinct_col, changes, pin) -> DataFrame:
    val = F.col(val_col).cast("double").cast("decimal(28,6)")
    is_add = F.col("_change_type").isin("insert", "update_postimage")
    # pinned like refresh_agg_mv's delta (pruner + fold join)
    delta = pin(changes
                .groupBy(*group_cols)
                .agg(F.sum(F.when(is_add, 1).otherwise(-1)).alias("nd"),
                     F.sum((val * F.when(is_add, 1).otherwise(-1)
                            .cast("decimal(28,6)")))
                      .cast("decimal(28,6)").alias("sval"),
                     F.hll_sketch_agg(F.when(is_add, F.col(distinct_col)),
                                      F.lit(MV_HLL_LG_K)).alias("ins_hll"),
                     # the IVM fallback trigger: any removed row carrying a
                     # non-NULL distinct value may strand a stale register
                     F.max(F.when(~is_add
                                  & F.col(distinct_col).isNotNull(),
                                  True).otherwise(False)).alias("has_rm"))
                .withColumn("mv_key", _group_key(group_cols)))
    cur = mv.read_matching(delta.select("mv_key"), version=base) \
            .select("mv_key", F.col("n_rows").alias("cur_n"),
                    F.col("total").alias("cur_total"),
                    F.col("hll").alias("cur_hll"))
    m = delta.join(cur, "mv_key", "left")
    new_n = (F.coalesce("cur_n", F.lit(0)) + F.col("nd")).alias("n_rows")
    new_total = (F.coalesce(F.col("cur_total"),
                            F.lit(0).cast("decimal(28,6)"))
                 + F.coalesce(F.col("sval"),
                              F.lit(0).cast("decimal(28,6)"))) \
        .cast("decimal(28,6)").alias("total")
    # read by rec_groups (collect + semi join) and the plain branch
    flagged = pin(m.select("mv_key", *group_cols, new_n, new_total,
                           _hll_merge(F.col("cur_hll"),
                                      F.col("ins_hll")).alias("hll"),
                           (F.col("has_rm")
                            & ((F.coalesce("cur_n", F.lit(0))
                                + F.col("nd")) > 0)).alias("__need")))
    rec_groups = flagged.where("__need").select(*group_cols).distinct()
    proj = ["mv_key",
            *[F.col(c).cast("string").alias(c) for c in group_cols],
            "n_rows", "total", "hll"]
    plain = flagged.where(~F.col("__need")).select(*proj)
    # count/sum are exact either way; recomputing them alongside the
    # sketch keeps the recompute path a single grouped pass
    exact = (_pruned_group_rows(source, src_version, group_cols,
                                rec_groups)
             .join(rec_groups, group_cols, "semi")
             .groupBy(*group_cols)
             .agg(*_avgdist_agg(val_col, distinct_col))
             .withColumn("mv_key", _group_key(group_cols))
             .select(*proj))
    return plain.unionByName(exact)


def _avgdist_resync_plan(mv, base, source, src_version, group_cols,
                         val_col, distinct_col) -> DataFrame:
    """Full-resync source after an untracked RESTORE (see
    :func:`_resync_plan`)."""
    full = (source.snapshot(src_version)
            .groupBy(*group_cols)
            .agg(*_avgdist_agg(val_col, distinct_col))
            .withColumn("mv_key", _group_key(group_cols))
            .select("mv_key",
                    *[F.col(c).cast("string").alias(c)
                      for c in group_cols],
                    "n_rows", "total", "hll"))
    stale = (mv.snapshot(base)
             .select("mv_key", *group_cols)
             .join(full.select("mv_key"), "mv_key", "left_anti")
             .withColumn("n_rows", F.lit(0).cast("long"))
             .withColumn("total", F.lit(None).cast("decimal(28,6)"))
             .withColumn("hll", F.lit(None).cast("binary")))
    return full.unionByName(stale)


def finalize_avg_distinct(mv_snapshot: DataFrame,
                          group_cols: list[str]) -> DataFrame:
    """Derived read view over the avg/distinct MV state: AVG from the
    exact (count, sum) pair (double-domain division, matching
    operators/incremental.py's finalize rationale) and the HLL
    estimate — neither is ever stored."""
    return mv_snapshot.select(
        "mv_key", *group_cols, "n_rows",
        F.round(F.col("total"), 2).cast("double").alias("total"),
        F.round(F.col("total").cast("double") / F.col("n_rows"), 6)
         .alias("avg_v"),
        F.hll_sketch_estimate("hll").alias("approx_distinct"))


def _minmax_resync_plan(mv, base, source, src_version, group_cols,
                        val_col) -> DataFrame:
    """Full-resync source after a RESTORE (see :func:`_resync_plan`)."""
    full = (source.snapshot(src_version)
            .groupBy(*group_cols)
            .agg(*_minmax_agg(val_col))
            .withColumn("mv_key", _group_key(group_cols))
            .select("mv_key",
                    *[F.col(c).cast("string").alias(c)
                      for c in group_cols],
                    "n_rows", "vmin", "vmax"))
    stale = (mv.snapshot(base)
             .select("mv_key", *group_cols)
             .join(full.select("mv_key"), "mv_key", "left_anti")
             .withColumn("n_rows", F.lit(0).cast("long"))
             .withColumn("vmin", F.lit(None).cast("decimal(28,6)"))
             .withColumn("vmax", F.lit(None).cast("decimal(28,6)")))
    return full.unionByName(stale)
