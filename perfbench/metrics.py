"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same metrics; a test
keeps the two in step. Every workload reports every metric. A per-layer
metric of a layer a workload never calls reads 0 there, which is the
prediction: the loads never call ``txlog``, the tx-table mix never runs the
star load.
"""

from __future__ import annotations

from statistics import median

from perfbench.trace import self_times

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("write_s", "s", "lower", 0.25),
    ("read_s", "s", "lower", 0.25),
    ("bytes_written_per_row", "B/row", "lower", 0.05),
]

DAYS = ("day1", "day2")
STAGES = ("load_ods", "validate_ods", "load_staging", "load_target")
SPAN_FIELDS = (("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
               ("executor_cpu_s", "s"), ("shuffle_bytes", "B"))
PLANS = ("read_source_csv", "build_ods", "build_staging", "build_target")
BI = ("sales_by_category", "sales_by_region", "qty_by_ship_mode",
      "profit_by_priority", "top_products_by_qty",
      "monthly_sales_latest_year", "customers_by_segment",
      "changed_dim_keys")
TX_OPS = ("create", "merge_upsert", "read_keys", "read_stats_range",
          "read_col_in")


def _per_layer_spec() -> list[tuple[str, str, str]]:
    out = [("session.get_spark.wall_s", "s", "lower")]
    for d in DAYS:
        for s in STAGES:
            out += [(f"{d}.orchestrate.{s}.{f}", u, "lower")
                    for f, u in SPAN_FIELDS]
        out += [(f"{d}.sources.catalog.bytes_written.{s}", "B", "lower")
                for s in STAGES]
        out.append((f"{d}.orchestrate.self_s", "s", "lower"))
    out += [(f"plans.{p}.build_s", "s", "lower") for p in PLANS]
    for q in BI:
        out += [(f"bi.{q}.wall_s", "s", "lower"),
                (f"bi.{q}.jobs", "count", "lower")]
    out += [("bi.files_read", "count", "lower"),
            ("load.storage_per_source_byte", "ratio", "lower")]
    for op in TX_OPS:
        out += [(f"txlog.{op}.{f}", u, "lower") for f, u in SPAN_FIELDS]
    out += [("txlog.merge_upsert.prune_ratio", "ratio", "higher"),
            ("txlog.checkpoint_commit_s", "s", "lower"),
            ("txlog.read.skip_ratio", "ratio", "higher"),
            ("txlog.log.replay_commits", "count", "lower"),
            ("leaked_pins", "count", "lower"),
            ("failed_tasks", "count", "lower"),
            ("failed_op_ratio", "ratio", "lower"),
            ("peak_rss_mb", "MB", "lower"),
            ("trace.overhead_s", "s", "lower")]
    return out


PER_LAYER = _per_layer_spec()


def spec() -> dict:
    """The metric lists in ``BENCHMARK.json`` form."""
    return {
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


def per_layer(spans: list, res: dict, overhead_s: float) -> dict:
    """Per-layer values from the traced run's spans and results. Repeated
    spans of one name (BI rounds, commits, reads) report their median."""
    selfs = self_times(spans)
    by_name: dict[str, list] = {}
    for s, st in zip(spans, selfs):
        by_name.setdefault(s.name, []).append(
            {"wall_s": s.end - s.start, "self_s": st, **s.counters})

    def med(name: str, field: str) -> float:
        vals = [r.get(field, 0) for r in by_name.get(name, [])]
        return median(vals) if vals else 0

    v = {"session.get_spark.wall_s": med("session.get_spark", "wall_s")}
    for d in DAYS:
        for s in STAGES:
            for f, _ in SPAN_FIELDS:
                v[f"{d}.orchestrate.{s}.{f}"] = med(f"{d}.orchestrate.{s}", f)
            v[f"{d}.sources.catalog.bytes_written.{s}"] = med(
                f"{d}.orchestrate.{s}", "bytes_written")
        v[f"{d}.orchestrate.self_s"] = med(d, "self_s")
    for p in PLANS:
        v[f"plans.{p}.build_s"] = med(f"plans.{p}", "wall_s")
    for q in BI:
        v[f"bi.{q}.wall_s"] = med(f"bi.{q}", "wall_s")
        v[f"bi.{q}.jobs"] = med(f"bi.{q}", "jobs")
    v["bi.files_read"] = res.get("bi_files_read", 0)
    v["load.storage_per_source_byte"] = res.get("storage_per_source_byte", 0)
    for op in TX_OPS:
        for f, _ in SPAN_FIELDS:
            v[f"txlog.{op}.{f}"] = med(f"txlog.{op}", f)
    v["txlog.merge_upsert.prune_ratio"] = res.get("prune_ratio", 0)
    v["txlog.checkpoint_commit_s"] = res.get("checkpoint_commit_s", 0)
    v["txlog.read.skip_ratio"] = res.get("skip_ratio", 0)
    v["txlog.log.replay_commits"] = res.get("replay_commits", 0)
    parents = {s.parent for s in spans}
    v["leaked_pins"] = max((s.counters.get("leaked_pins", 0)
                            for s in spans), default=0)
    v["failed_tasks"] = sum(s.counters.get("failed_tasks", 0)
                            for i, s in enumerate(spans) if i not in parents)
    v["failed_op_ratio"] = res["failed"] / res["attempted"]
    v["peak_rss_mb"] = res["peak_rss_mb"]
    v["trace.overhead_s"] = overhead_s
    return v
