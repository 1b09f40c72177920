"""The two-day star load and the BI query set over the target star.

Day 1 is a full load into an empty warehouse; day 2 re-loads the same
business keys with re-priced products and moved cities. Both go through
``orchestrate.run_pipeline_resumable(..., enforce_quality=True)``, the
cron-facing path. After day 2 a fixed BI query set runs over the star.
Every output is compared with answers computed from the generator's model.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal
from statistics import fmean

from perfbench import gen
from perfbench.metrics import BI
from perfbench.trace import Tracer, tree_bytes

LAYERS = ("ods", "stg", "tgt")
# BI rounds run after each day, so timed rounds sit some 30 s apart and
# average over the host's CPU speed, which drifts over tens of seconds.
# The first round of the process compiles every query plan and is not
# timed.
MIN_BI_ROUNDS = 1         # timed, after day 2


def _cents(d) -> int:
    return int(Decimal(d) * 100)


# ------------------------------------------------------------------ checks

def observe_day(read, batch_id: str) -> dict:
    """Collect what :func:`check_day` compares, from the target star."""
    from pyspark.sql import functions as F

    fact = read("tgt_fact_sales").where(F.col("etl_batch_id") == batch_id)
    by_cat = (fact.join(read("tgt_dim_product")
                        .select("product_key", "product_category"),
                        "product_key", "left")
              .groupBy("product_category")
              .agg(F.count(F.lit(1)), F.sum("sales_amount")).collect())

    def dim(name: str, col: str) -> tuple[int, set]:
        rows = (read(name).where("is_current OR version = 2")
                .select(col, "is_current", "version").collect())
        return (sum(1 for r in rows if r[1]),
                {r[0] for r in rows if r[2] == 2})

    products, repriced = dim("tgt_dim_product", "product_name")
    stores, moved = dim("tgt_dim_store", "city")
    return {
        "fact_rows": sum(r[1] for r in by_cat),
        "sales_by_category": {r[0]: _cents(r[2]) for r in by_cat},
        "products": products, "stores": stores,
        "repriced": repriced, "moved": moved,
    }


def check_day(observed: dict, expected: dict) -> list[str]:
    """Names of the day checks the observed star fails."""
    return [k for k in ("fact_rows", "sales_by_category", "products",
                        "stores", "repriced", "moved")
            if observed.get(k) != expected[k]]


# ---------------------------------------------------------------- BI set

def _bi_queries():
    from pyspark.sql import functions as F

    def by(df, key, agg):
        return df.groupBy(key).agg(agg.alias("v"))

    def sales_by_category(t):
        return by(t("tgt_fact_sales").join(
            t("tgt_dim_product").select("product_key", "product_category"),
            "product_key"), "product_category", F.sum("sales_amount"))

    def sales_by_region(t):
        return by(t("tgt_fact_sales").join(
            t("tgt_dim_store").select("store_key", "region"), "store_key"),
            "region", F.sum("sales_amount"))

    def qty_by_ship_mode(t):
        return by(t("tgt_fact_sales"), "ship_mode", F.sum("order_quantity"))

    def profit_by_priority(t):
        return by(t("tgt_fact_sales"), "order_priority", F.sum("profit"))

    def top_products_by_qty(t):
        return (by(t("tgt_fact_sales").join(
            t("tgt_dim_product").select("product_key", "product_name"),
            "product_key"), "product_name", F.sum("order_quantity"))
            .orderBy(F.desc("v"), F.asc("product_name")).limit(10))

    def monthly_sales_latest_year(t):
        dates = (t("tgt_dim_date").where(F.col("year") == gen.LAST_DATE.year)
                 .select(F.col("date_key").alias("transaction_date_key"),
                         "month"))
        return by(t("tgt_fact_sales").join(dates, "transaction_date_key"),
                  "month", F.sum("sales_amount"))

    def customers_by_segment(t):
        return by(t("tgt_fact_sales").join(
            t("tgt_dim_customer").select("customer_key", "customer_segment"),
            "customer_key"), "customer_segment",
            F.countDistinct("customer_key"))

    def changed_dim_keys(t):
        def n(name):
            return (t(name).where(F.col("version") > 1)
                    .select(F.count(F.lit(1)).alias("n")))
        return n("tgt_dim_product").crossJoin(
            n("tgt_dim_store").withColumnRenamed("n", "m"))

    return {f.__name__: f for f in (
        sales_by_category, sales_by_region, qty_by_ship_mode,
        profit_by_priority, top_products_by_qty, monthly_sales_latest_year,
        customers_by_segment, changed_dim_keys)}


_MONEY = {"sales_by_category", "sales_by_region", "profit_by_priority",
          "monthly_sales_latest_year"}


def bi_answer(name: str, rows) -> object:
    """A BI result in the form :func:`gen.expected_bi` gives it."""
    if name == "top_products_by_qty":
        return [(r[0], int(r[1])) for r in rows]
    if name == "changed_dim_keys":
        return (int(rows[0][0]), int(rows[0][1]))
    conv = _cents if name in _MONEY else int
    return {r[0]: conv(r[1]) for r in rows}


def check_bi(name: str, answer, expected: dict) -> bool:
    return answer == expected[name]


# -------------------------------------------------------------- workload

def write_sources(work: str, csv_data: list[bytes]) -> list[str]:
    """Write each day's CSV under ``work/src``; returns the paths."""
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir, exist_ok=True)
    csvs = []
    for i, data in enumerate(csv_data, 1):
        path = os.path.join(src_dir, f"day{i}.csv")
        with open(path, "wb") as fh:
            fh.write(data)
        csvs.append(path)
    return csvs


def run(spark, work: str, days: list, csvs: list[str],
        seconds: float, tracer) -> dict:
    """Run the two-day load with BI rounds after each day: an untimed and
    a timed one after day 1, then timed ones until ``seconds`` have passed
    (at least ``MIN_BI_ROUNDS``). Returns the measured results."""
    from walmart_project_etl_spark.orchestrate import run_pipeline_resumable
    from walmart_project_etl_spark.sources.catalog import Warehouse

    root = os.path.join(work, "warehouse")
    wh = Warehouse(spark, root)
    queries = _bi_queries()

    def read(name: str):
        return wh.read("tgt", name)

    ops = failed = 0
    failures: list[str] = []
    day_s, written = [], 0
    bi_s: list[float] = []
    untraced = Tracer(False)

    def bi_round(expected: dict, timed: bool) -> None:
        nonlocal ops, failed
        tr = tracer if timed else untraced
        for name in BI:
            ops += 1
            tr.begin(f"bi.{name}", op=ops)
            t0 = time.time()
            try:
                rows = queries[name](read).collect()
                err = None
            except Exception as e:   # noqa: BLE001
                err = f"{type(e).__name__}: {e}"
            if timed:
                bi_s.append(time.time() - t0)
            tr.end()
            if err is None and not check_bi(name, bi_answer(name, rows),
                                            expected):
                err = "wrong answer"
            if err is not None:
                failed += 1
                failures.append(f"bi.{name}: {err}")

    for i, (day, csv_path) in enumerate(zip(days, csvs), 1):
        label = f"day{i}"
        hook = None
        if tracer.enabled:
            def hook(kind, stage, attempt, label=label):
                if kind in ("start", "retry"):
                    if kind == "retry":
                        tracer.end()
                    tracer.begin(f"{label}.orchestrate.{stage}")
                elif kind == "done":
                    s = tracer.end()
                    t = time.time()
                    s.counters["bytes_written"] = tree_bytes(root, s.start)
                    tracer.overhead_s += time.time() - t
        ops += 1
        depth = tracer.begin(label, op=ops)
        t0 = time.time()
        try:
            run_pipeline_resumable(spark, csv_path, root, day.run_date,
                                   day.batch_id, enforce_quality=True,
                                   on_event=hook)
            err = None
        except Exception as e:   # noqa: BLE001 - a failed op is counted
            err = f"{type(e).__name__}: {e}"
        t1 = time.time()
        tracer.end_to(depth)
        day_s.append(t1 - t0)
        written += tree_bytes(root, t0)
        if err is None:
            try:
                bad = check_day(observe_day(read, day.batch_id),
                                gen.expected_day(day))
                err = f"failed checks {bad}" if bad else None
            except Exception as e:   # noqa: BLE001
                err = f"{type(e).__name__}: {e}"
        if err is not None:
            failed += 1
            failures.append(f"{label}: {err}")
        expected = gen.expected_bi(days[:i])
        if i == 1:
            bi_round(expected, timed=False)     # compiles the plans
            bi_round(expected, timed=True)

    if tracer.enabled:
        _plan_spans(spark, tracer, wh, csvs[-1], days[-1])

    rounds, start = 0, time.time()
    while rounds < MIN_BI_ROUNDS or time.time() - start < seconds:
        rounds += 1
        bi_round(expected, timed=True)

    layer_bytes = sum(tree_bytes(os.path.join(root, layer))
                      for layer in LAYERS)
    csv_bytes = sum(os.path.getsize(p) for p in csvs)
    rows = sum(len(d.lines) for d in days)
    out = {
        "attempted": ops, "failed": failed, "failures": failures,
        "write_s": sum(day_s),
        "read_s": fmean(bi_s),
        "bytes_written_per_row": written / rows,
        "storage_per_source_byte": layer_bytes / csv_bytes,
    }
    if tracer.enabled:
        out["bi_files_read"] = sum(len(queries[n](read).inputFiles())
                                   for n in BI)
    return out


def _plan_spans(spark, tracer, wh, csv_path: str, day) -> None:
    """Plan-build-only spans: each builder returns lazy frames, so the span
    is driver planning time."""
    from walmart_project_etl_spark.pipeline import TARGET_TABLES
    from walmart_project_etl_spark.plans.ods import build_ods
    from walmart_project_etl_spark.plans.staging import build_staging
    from walmart_project_etl_spark.plans.target import build_target
    from walmart_project_etl_spark.schemas import ODS_SCHEMAS, STG_SCHEMAS
    from walmart_project_etl_spark.sources.ingest import read_source_csv

    with tracer.span("plans.read_source_csv"):
        src = read_source_csv(spark, csv_path)
    with tracer.span("plans.build_ods"):
        build_ods(spark, src, run_date=day.run_date)
    ods = {n: wh.read("ods", n) for n in ODS_SCHEMAS}
    with tracer.span("plans.build_staging"):
        build_staging(ods, batch_id=day.batch_id, run_date=day.run_date)
    stg = {n: wh.read("stg", n) for n in STG_SCHEMAS}
    prior = {n: wh.read("tgt", n) for n in TARGET_TABLES}
    with tracer.span("plans.build_target"):
        build_target(stg, prior, run_date=day.run_date, batch_id=day.batch_id)
