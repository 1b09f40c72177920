"""Data-quality gates: referential-integrity checks, volume thresholds,
and distribution ratio checks.

The reference prints these (``verify_data_loading``,
``etl_ods_loader.py:891-1018``; ``verify_staging_data``,
``etl_staging_loader.py:1315-1383``) — here they are hard, assertable
checks returning one row per check so a pipeline can gate on them.

The FK and volume checks run as ONE query: each source table is left-joined
to a flagged distinct key set of every dim it references and aggregated
once (a NULL flag is a violation), and the single-row aggregates are
cross-joined and collected in one action. The gate thus costs one scan
per source table with broadcast hash probes — not one eager job per
check — and the check rows are built on the driver from that one row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from walmart_project_etl_spark.functions.keys import date_id_from_parts


# (check, fact table, fact key, dim table, dim key, broadcast the dim side).
# Broadcast only genuinely dimension-sized key sets: returns→sales is
# fact-to-fact, so AQE picks its join strategy — force-broadcasting a
# fact-sized key set would OOM the driver at scale.
_FK = (
    ("sales_product_fk", "ods_sales", "product_id", "ods_product", "product_id", True),
    ("sales_store_fk", "ods_sales", "store_id", "ods_store", "store_id", True),
    ("sales_customer_fk", "ods_sales", "customer_id", "ods_customer", "customer_id", True),
    # date check via reconstructed YYYYMMDD id (reference :928-936, F29)
    ("sales_date_fk", "ods_sales", "date_id", "ods_date", "date_id", True),
    ("product_supplier_fk", "ods_product", "supplier_id", "ods_supplier", "supplier_id", True),
    ("returns_sale_fk", "ods_returns", "original_sale_id", "ods_sales", "sale_id", False),
    ("returns_reason_fk", "ods_returns", "reason_code", "ods_return_reason", "reason_code", True),
    ("inventory_product_fk", "ods_inventory", "product_id", "ods_product", "product_id", True),
    ("inventory_store_fk", "ods_inventory", "store_id", "ods_store", "store_id", True),
)

# (check, threshold): the reference's volume acceptance minimums
_VOLUME = (("min_sales_volume", 5000), ("min_product_count", 1000),
           ("min_store_count", 100), ("min_returns_months", 3),
           ("inventory_snapshot_days", 1))

_SCHEMA = "check string, value long, threshold double, passed boolean"


def _fk_aggs(ods: dict[str, DataFrame]) -> tuple[dict[str, DataFrame],
                                                  dict[str, list[Column]]]:
    """Per fact table: the fact left-joined to the flagged distinct key set
    of every dim it references, and one violation count per FK.

    A fact key with no dim match — a NULL key included — leaves its flag
    NULL, exactly the rows a ``left_anti`` join keeps. The dim side is
    distinct, so the joins never multiply fact rows: the joined frame
    still answers the table's volume aggregates."""
    frames: dict[str, DataFrame] = {}
    aggs: dict[str, list[Column]] = {}
    for check, fact, fact_key, dim, dim_key, broadcast in _FK:
        if fact not in frames:
            frames[fact] = ods[fact]
            if fact == "ods_sales":
                frames[fact] = frames[fact].withColumn(
                    "date_id", date_id_from_parts("transaction_date"))
        flag = f"_{check}"
        keys = (ods[dim].select(F.col(dim_key).alias(fact_key)).distinct()
                .withColumn(flag, F.lit(True)))
        frames[fact] = frames[fact].join(
            F.broadcast(keys) if broadcast else keys, fact_key, "left")
        aggs.setdefault(fact, []).append(
            F.count_if(F.col(flag).isNull()).alias(check))
    return frames, aggs


def _volume_aggs() -> dict[str, list[Column]]:
    """Per source table: the aggregates the volume minimums compare."""
    def months(c: Column) -> Column:
        return F.year(c) * 12 + F.month(c)

    n = F.count(F.lit(1))
    return {
        "ods_sales": [n.alias("min_sales_volume")],
        "ods_product": [n.alias("min_product_count")],
        "ods_store": [n.alias("min_store_count")],
        "ods_returns": [(months(F.max("return_date")) - months(F.min("return_date")))
                        .alias("min_returns_months")],
        "ods_inventory": [F.countDistinct("inventory_date")
                          .alias("inventory_snapshot_days")],
    }


def _measure(ods: dict[str, DataFrame], frames: dict[str, DataFrame],
             *groups: dict[str, list[Column]]) -> dict:
    """Every aggregate of ``groups`` in ONE Spark action: one aggregate per
    source table (over its FK-joined frame in ``frames``, if any), the
    single-row results cross-joined and collected once."""
    aggs: dict[str, list[Column]] = {}
    for group in groups:
        for table, cols in group.items():
            aggs.setdefault(table, []).extend(cols)
    row = None
    for table, cols in aggs.items():
        one = frames.get(table, ods[table]).agg(*cols)
        row = one if row is None else row.crossJoin(one)
    return row.collect()[0].asDict()


def _fk_rows(m: dict) -> list[tuple]:
    """One row per reference FK check; inventory's product and store
    checks gate together, as in the reference."""
    value = {c[0]: m[c[0]] for c in _FK if not c[0].startswith("inventory_")}
    value["inventory_product_store_fk"] = (m["inventory_product_fk"]
                                           + m["inventory_store_fk"])
    return [(n, v, 0.0, v == 0) for n, v in value.items()]


def _volume_rows(m: dict) -> list[tuple]:
    rows = []
    for name, threshold in _VOLUME:
        value = m[name] or 0   # no returns: the month span is NULL
        rows.append((name, value, float(threshold), value >= threshold))
    return rows


def fk_checks(spark: SparkSession, ods: dict[str, DataFrame]) -> DataFrame:
    """The reference's 8 referential-integrity checks
    (``etl_ods_loader.py:904-982``), as hard zero-violation gates."""
    frames, aggs = _fk_aggs(ods)
    return spark.createDataFrame(_fk_rows(_measure(ods, frames, aggs)), _SCHEMA)


def volume_checks(spark: SparkSession, ods: dict[str, DataFrame]) -> DataFrame:
    """Volume acceptance minimums (reference ``etl_ods_loader.py:984-1018``):
    ≥5,000 sales, ≥1,000 products, ≥100 stores, ≥3 months of returns,
    daily inventory snapshots present."""
    return spark.createDataFrame(
        _volume_rows(_measure(ods, {}, _volume_aggs())), _SCHEMA)


def ratio_checks(stg: dict[str, DataFrame]) -> DataFrame:
    """Distribution sanity ratios (reference ``etl_staging_loader.py:1349-1381``):
    % high-margin products, % profitable sales, % returns within 30 days,
    % out-of-stock — as one row per ratio (A8 conditional-count shape)."""
    def pct(df: DataFrame, cond, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check"),
            F.round(100.0 * F.sum(F.when(cond, 1).otherwise(0)) / F.count(F.lit(1)), 2)
             .alias("pct"),
            F.count(F.lit(1)).alias("n_rows"))

    parts = [
        pct(stg["stg_product"], F.col("is_high_margin"), "pct_high_margin_products"),
        pct(stg["stg_sales"], F.col("is_profitable"), "pct_profitable_sales"),
        pct(stg["stg_returns"], F.col("is_within_30_days"), "pct_returns_within_30_days"),
        pct(stg["stg_inventory"], F.col("stock_status") == "Out of Stock",
            "pct_out_of_stock"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assert_quality(spark: SparkSession, ods: dict[str, DataFrame]) -> None:
    """Hard gate: raise if any FK or volume check fails. Both check sets
    are measured by one Spark action."""
    frames, fk = _fk_aggs(ods)
    m = _measure(ods, frames, fk, _volume_aggs())
    failed = [name for name, _, _, passed in _fk_rows(m) + _volume_rows(m)
              if not passed]
    if failed:
        raise AssertionError(f"quality checks failed: {failed}")
