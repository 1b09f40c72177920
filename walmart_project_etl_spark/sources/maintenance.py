"""Metadata-only table-maintenance advisor for :class:`TxTable`.

The auto-OPTIMIZE policy loop every managed lakehouse runs (Delta's
auto compaction / predictive optimization, re-expressed over this
repo's log): read NOTHING but the commit log, decide which maintenance
the table needs, optionally run it. Decisions and their thresholds:

- ``compact`` — ≥ ``small_file_threshold`` live files under half the
  row target (appends and narrow merges fragment the layout; small
  files mean many scan tasks and coarse stats per byte);
- ``purge_deletes`` — the fraction of live files carrying deletion
  vectors reached ``dv_purge_threshold`` (every read of those files
  pays the DV anti-join until materialized);
- ``optimize_zorder`` — the declared stats columns' per-file ranges
  overlap heavily (``overlap_threshold`` × file count), i.e. the
  clustering that makes data skipping effective has drifted — the
  post-churn re-cluster signal;
- ``analyze`` — the table has no ANALYZE statistics, or
  ``analyze_stale_threshold`` row-moving commits landed since the last
  one (a planner reading :meth:`TxTable.table_stats` would be working
  from a stale row count / NDV — Delta's predictive-optimization
  freshness signal).

Everything is O(#live files) driver-side metadata math: at 100 TB the
plan costs a log read, and only the chosen ACTIONS touch data (each
O(affected files) by construction — see the respective TxTable
methods).
"""

from __future__ import annotations

from walmart_project_etl_spark.sources.txlog import TxTable, _cbounds


def _range_overlap_fraction(bounds: list[tuple]) -> float:
    """Average number of OTHER files whose [min, max] range overlaps
    each file's, normalized by file count — 0.0 for perfectly disjoint
    clustering, →1.0 when every file spans the whole domain."""
    spans = sorted((lo, hi) for lo, hi in bounds
                   if lo is not None and hi is not None)
    if len(spans) < 2:
        return 0.0
    overlaps = 0
    for i, (lo, hi) in enumerate(spans):
        for lo2, _hi2 in spans[i + 1:]:
            if lo2 > hi:
                break                      # sorted by lo — no more overlap
            overlaps += 1
    return 2 * overlaps / (len(spans) * (len(spans) - 1))


def maintenance_plan(t: TxTable, target_rows: int = 1_000_000,
                     small_file_threshold: int = 4,
                     dv_purge_threshold: float = 0.25,
                     overlap_threshold: float = 0.5,
                     analyze_stale_threshold: int = 10) -> list[dict]:
    """The table's recommended maintenance actions, metadata-only.
    Returns [{"action", "reason", ...}] in execution order
    (purge → compact → zorder: purging first shrinks the rewrite sets
    the later steps see; zorder last so its clustering survives)."""
    meta, live = t._state()
    plan: list[dict] = []
    if not live:
        return plan
    dirty = [a for a in live.values() if a.get("_dvs")]
    if len(dirty) / len(live) >= dv_purge_threshold:
        plan.append({"action": "purge_deletes",
                     "reason": f"{len(dirty)}/{len(live)} live files "
                               f"carry deletion vectors"})
    small = [a for a in live.values() if a["rows"] < target_rows // 2]
    if len(small) >= small_file_threshold:
        plan.append({"action": "compact", "target_rows": target_rows,
                     "reason": f"{len(small)} files under "
                               f"{target_rows // 2} rows"})
    cols = meta.get("stats_cols")
    if cols:
        worst, worst_frac = None, 0.0
        for c in cols:
            frac = _range_overlap_fraction(
                [b for a in live.values()
                 if (b := _cbounds(a, meta, c)) is not None])
            if frac > worst_frac:
                worst, worst_frac = c, frac
        if worst is not None and worst_frac >= overlap_threshold:
            plan.append({"action": "optimize_zorder", "cols": cols,
                         "reason": f"stats column '{worst}' ranges "
                                   f"overlap {worst_frac:.0%} of file "
                                   f"pairs — clustering drifted"})
    st = t.table_stats()
    if st is None:
        if len(t.versions()) > 1:     # a freshly created table is quiet
            plan.append({"action": "analyze",
                         "reason": "no ANALYZE statistics in the log"})
    elif st["stale_commits"] >= analyze_stale_threshold:
        plan.append({"action": "analyze",
                     "reason": f"{st['stale_commits']} row-moving "
                               f"commits since the last ANALYZE"})
    return plan


def run_maintenance(t: TxTable, **kwargs) -> list[dict]:
    """Execute :func:`maintenance_plan`; returns the plan with each
    entry's execution stats attached. Zero row changes by construction
    (every action is a layout rewrite)."""
    plan = maintenance_plan(t, **kwargs)
    for entry in plan:
        if entry["action"] == "purge_deletes":
            entry["stats"] = t.purge_deletes()
        elif entry["action"] == "compact":
            entry["stats"] = t.compact(
                target_rows=entry.get("target_rows", 1_000_000))
        elif entry["action"] == "optimize_zorder":
            entry["stats"] = t.optimize_zorder(entry["cols"])
        elif entry["action"] == "analyze":
            entry["stats"] = t.analyze()
    return plan
