"""Staging → Target star schema (6 dims + 3 facts). Spark re-expression of
reference ``etl_target_loader.py``.

- 4 SCD Type 1 dims (date/customer/supplier/return_reason): W1 dedup-latest
  then MERGE upsert (``operators.merge.scd1_merge``; reference :86-294).
- 2 SCD Type 2 dims (product/store): change-detection fingerprint, expiry
  rewrite, versioned inserts (``operators.scd2.scd2_apply``; reference
  :299-656). Tracked columns mirror the reference's 11 product / 7 store
  change columns (:332-341, :514-521).
- 3 facts: multi-way key-resolution joins (J8) — stg fact → stg dims for
  natural keys → tgt dims; SCD2 keys resolve through the temporal interval
  join (J9, ``operators.interval_join``; reference :711-776, :831-880,
  :935-993).

Dims before facts: :func:`build_target` composes the two builders over
lazy dim plans, which makes every fact re-run the SCD merges inside its
broadcasts. The daily load (``orchestrate.pipeline_stages``) instead
stages the dims first (``Warehouse.stage_new`` into ``<table>__new``),
reads them back and builds the facts over the written ``__new`` files,
so each SCD plan runs once; all nine tables then swap in together.

Scale: dims broadcast into the fact joins (dimension-sized by
construction); the interval join shuffles only on the natural equi key with
the validity range as residual filter. Fact identity is the hash key, so
loads are embarrassingly parallel; appends are batch-scoped
(``etl_batch_id``) making re-runs idempotent via overwrite-by-batch —
an improvement over the reference's acknowledged duplicate-on-rerun
(:1023-1030).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from walmart_project_etl_spark.operators.dedup import latest_per_key
from walmart_project_etl_spark.operators.interval_join import interval_join
from walmart_project_etl_spark.operators.merge import scd1_merge
from walmart_project_etl_spark.operators.scd2 import scd2_apply

# tracked SCD2 columns — reference etl_target_loader.py:332-341 (product,
# 11 cols) and :514-521 (store, 7 cols)
PRODUCT_TRACKED = ["product_name", "product_category", "product_sub_category",
                   "product_container", "unit_price", "price_tier",
                   "product_base_margin", "margin_percentage", "is_high_margin",
                   "supplier_id", "supplier_name"]
STORE_TRACKED = ["store_name", "location", "city", "state", "zip_code",
                 "region", "market"]

DATE_COLS = ["full_date", "day_of_week", "day_of_month", "month", "month_name",
             "quarter", "year", "is_weekend", "is_holiday", "fiscal_year",
             "fiscal_quarter"]
CUSTOMER_COLS = ["customer_name", "customer_age", "age_group",
                 "customer_segment", "city", "state", "zip_code", "region"]
SUPPLIER_COLS = ["supplier_name", "supplier_type", "contact_name",
                 "contact_phone", "contact_email"]
REASON_COLS = ["reason_description", "reason_category", "impact_level",
               "is_controllable"]


def _dedup_latest(df: DataFrame, key: str, surrogate: str) -> DataFrame:
    """W1 before MERGE/SCD2 (reference :118-124 etc.). The reference orders
    by ``etl_timestamp DESC`` alone — ambiguous within a batch; we pin the
    tie to the lowest staging surrogate, which is the same winner the
    staging key-map collapse picks (consistent fact attribution)."""
    return latest_per_key(df, [key], [F.desc("etl_timestamp"), F.asc(surrogate)])


def build_scd1_dims(stg: dict[str, DataFrame], tgt: dict[str, DataFrame] | None,
                    now_ts: Column) -> dict[str, DataFrame]:
    """D1: MERGE the four SCD1 dimensions (reference :86-294)."""
    prior = tgt or {}
    date_src = _dedup_latest(stg["stg_date"], "date_id", "date_key") \
        .select("date_id", *DATE_COLS)
    cust_src = _dedup_latest(stg["stg_customer"], "customer_id", "customer_key") \
        .select("customer_id", *CUSTOMER_COLS)
    supp_src = _dedup_latest(stg["stg_supplier"], "supplier_id", "supplier_key") \
        .select("supplier_id", *SUPPLIER_COLS)
    reas_src = _dedup_latest(stg["stg_return_reason"], "reason_code", "reason_key") \
        .select("reason_code", *REASON_COLS)
    return {
        "tgt_dim_date": scd1_merge(prior.get("tgt_dim_date"), date_src,
                                   "date_id", DATE_COLS, "date_key", now_ts),
        "tgt_dim_customer": scd1_merge(prior.get("tgt_dim_customer"), cust_src,
                                       "customer_id", CUSTOMER_COLS,
                                       "customer_key", now_ts),
        "tgt_dim_supplier": scd1_merge(prior.get("tgt_dim_supplier"), supp_src,
                                       "supplier_id", SUPPLIER_COLS,
                                       "supplier_key", now_ts),
        "tgt_dim_return_reason": scd1_merge(prior.get("tgt_dim_return_reason"),
                                            reas_src, "reason_code", REASON_COLS,
                                            "reason_key", now_ts),
    }


def build_scd2_dims(stg: dict[str, DataFrame], tgt: dict[str, DataFrame] | None,
                    run_date: str, now_ts: Column) -> dict[str, DataFrame]:
    """D2: apply the SCD2 pipeline to product and store (reference :299-656)."""
    prior = tgt or {}
    prod_src = _dedup_latest(stg["stg_product"], "product_id", "product_key") \
        .select("product_id", *PRODUCT_TRACKED)
    store_src = _dedup_latest(stg["stg_store"], "store_id", "store_key") \
        .select("store_id", *STORE_TRACKED)
    return {
        "tgt_dim_product": scd2_apply(prior.get("tgt_dim_product"), prod_src,
                                      "product_id", PRODUCT_TRACKED,
                                      "product_key", run_date, now_ts),
        "tgt_dim_store": scd2_apply(prior.get("tgt_dim_store"), store_src,
                                    "store_id", STORE_TRACKED,
                                    "store_key", run_date, now_ts),
    }


def _with_natural_keys(fact: DataFrame, stg: dict[str, DataFrame],
                       mappings: list[tuple[str, str, str, str, str]]) -> DataFrame:
    """Join a staging fact back to its staging dims to recover natural keys
    (the reference re-resolves target keys the same way, :711-759).

    mappings: (stg_table, dim_surrogate_col, fact_surrogate_col,
               natural_col, out_col) — the fact may reference one dim under
    several roles (transaction vs ship date), hence the separate names.
    """
    out = fact
    for table, dim_key, fact_key, natural, out_col in mappings:
        dim = (stg[table].select(F.col(dim_key).alias(fact_key),
                                 F.col(natural).alias(out_col))
               .dropDuplicates([fact_key]))
        out = out.join(F.broadcast(dim), fact_key, "left")
    return out


def _resolve_scd2_key(fact: DataFrame, dim: DataFrame, natural: str,
                      surrogate: str, date_col: str, key_out: str) -> DataFrame:
    """J9: resolve an SCD2 surrogate via natural key + validity interval."""
    d = dim.select(F.col(natural), F.col("effective_date"), F.col("expiry_date"),
                   F.col(surrogate).alias(key_out))
    joined = interval_join(fact, d, natural, date_col,
                           "effective_date", "expiry_date", how="left")
    return joined.drop("effective_date", "expiry_date")


def build_fact_sales(stg: dict[str, DataFrame], tgt: dict[str, DataFrame],
                     batch_id: str, now_ts: Column) -> DataFrame:
    """tgt_fact_sales (reference :711-776): resolve transaction/ship date,
    customer (SCD1) and product/store (SCD2 interval) target keys."""
    f = stg["stg_sales"]
    f = _with_natural_keys(f, stg, [
        ("stg_date", "date_key", "transaction_date_key", "date_id", "t_date_id"),
        ("stg_date", "date_key", "ship_date_key", "date_id", "s_date_id"),
        ("stg_customer", "customer_key", "customer_key", "customer_id", "customer_id"),
        ("stg_product", "product_key", "product_key", "product_id", "product_id"),
        ("stg_store", "store_key", "store_key", "store_id", "store_id"),
    ])
    # dates also give the actual transaction date for the interval join
    date_map = F.broadcast(stg["stg_date"].select(
        F.col("date_id").alias("t_date_id"), F.col("full_date").alias("txn_date")))
    f = f.join(date_map, "t_date_id", "left")

    dim_date = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("t_date_id"), F.col("date_key").alias("transaction_date_key_t")))
    dim_date_ship = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("s_date_id"), F.col("date_key").alias("ship_date_key_t")))
    dim_cust = F.broadcast(tgt["tgt_dim_customer"].select(
        "customer_id", F.col("customer_key").alias("customer_key_t")))
    f = (f.join(dim_date, "t_date_id", "left")
          .join(dim_date_ship, "s_date_id", "left")
          .join(dim_cust, "customer_id", "left"))
    f = _resolve_scd2_key(f, tgt["tgt_dim_product"], "product_id",
                          "product_key", "txn_date", "product_key_t")
    f = _resolve_scd2_key(f, tgt["tgt_dim_store"], "store_id",
                          "store_key", "txn_date", "store_key_t")
    return f.select(
        "sales_key", "sale_id", "order_id", "row_id",
        F.col("transaction_date_key_t").alias("transaction_date_key"),
        F.col("product_key_t").alias("product_key"),
        F.col("store_key_t").alias("store_key"),
        F.col("customer_key_t").alias("customer_key"),
        "order_priority", "order_quantity", "sales_amount", "discount",
        "discount_amount", "shipping_cost", "gross_revenue", "net_revenue",
        "profit", "profit_margin", "is_profitable",
        F.col("ship_date_key_t").alias("ship_date_key"), "ship_mode",
        F.lit(batch_id).alias("etl_batch_id"),
        now_ts.alias("insertion_date"), now_ts.alias("modification_date"),
    ).where(F.col("transaction_date_key").isNotNull()
            & F.col("product_key").isNotNull()
            & F.col("store_key").isNotNull()
            & F.col("customer_key").isNotNull())


def build_fact_returns(stg: dict[str, DataFrame], tgt: dict[str, DataFrame],
                       batch_id: str, now_ts: Column) -> DataFrame:
    """tgt_fact_returns (reference :935-993)."""
    f = stg["stg_returns"]
    f = _with_natural_keys(f, stg, [
        ("stg_date", "date_key", "return_date_key", "date_id", "r_date_id"),
        ("stg_date", "date_key", "original_sale_date_key", "date_id", "o_date_id"),
        ("stg_product", "product_key", "product_key", "product_id", "product_id"),
        ("stg_store", "store_key", "store_key", "store_id", "store_id"),
        ("stg_return_reason", "reason_key", "reason_key", "reason_code", "reason_code_nat"),
    ])
    date_map = F.broadcast(stg["stg_date"].select(
        F.col("date_id").alias("r_date_id"), F.col("full_date").alias("ret_date")))
    f = f.join(date_map, "r_date_id", "left")
    dim_rdate = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("r_date_id"), F.col("date_key").alias("return_date_key_t")))
    dim_odate = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("o_date_id"), F.col("date_key").alias("original_sale_date_key_t")))
    dim_reason = F.broadcast(tgt["tgt_dim_return_reason"].select(
        F.col("reason_code").alias("reason_code_nat"),
        F.col("reason_key").alias("reason_key_t")))
    f = (f.join(dim_rdate, "r_date_id", "left")
          .join(dim_odate, "o_date_id", "left")
          .join(dim_reason, "reason_code_nat", "left"))
    f = _resolve_scd2_key(f, tgt["tgt_dim_product"], "product_id",
                          "product_key", "ret_date", "product_key_t")
    f = _resolve_scd2_key(f, tgt["tgt_dim_store"], "store_id",
                          "store_key", "ret_date", "store_key_t")
    return f.select(
        "return_key", "return_id",
        F.col("return_date_key_t").alias("return_date_key"),
        F.col("product_key_t").alias("product_key"),
        F.col("store_key_t").alias("store_key"),
        F.col("reason_key_t").alias("reason_key"),
        "return_amount", "quantity_returned", "avg_return_price",
        "original_sale_id",
        F.col("original_sale_date_key_t").alias("original_sale_date_key"),
        "days_since_sale", "is_within_30_days", "return_condition",
        F.lit(batch_id).alias("etl_batch_id"),
        now_ts.alias("insertion_date"), now_ts.alias("modification_date"),
    ).where(F.col("return_date_key").isNotNull()
            & F.col("product_key").isNotNull()
            & F.col("store_key").isNotNull())


def build_fact_inventory(stg: dict[str, DataFrame], tgt: dict[str, DataFrame],
                         batch_id: str, now_ts: Column) -> DataFrame:
    """tgt_fact_inventory (reference :831-880)."""
    f = stg["stg_inventory"]
    f = _with_natural_keys(f, stg, [
        ("stg_date", "date_key", "date_key", "date_id", "i_date_id"),
        ("stg_date", "date_key", "last_restock_date_key", "date_id", "rs_date_id"),
        ("stg_product", "product_key", "product_key", "product_id", "product_id"),
        ("stg_store", "store_key", "store_key", "store_id", "store_id"),
    ])
    date_map = F.broadcast(stg["stg_date"].select(
        F.col("date_id").alias("i_date_id"), F.col("full_date").alias("inv_date")))
    f = f.join(date_map, "i_date_id", "left")
    dim_idate = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("i_date_id"), F.col("date_key").alias("date_key_t")))
    dim_rsdate = F.broadcast(tgt["tgt_dim_date"].select(
        F.col("date_id").alias("rs_date_id"),
        F.col("date_key").alias("last_restock_date_key_t")))
    f = f.join(dim_idate, "i_date_id", "left").join(dim_rsdate, "rs_date_id", "left")
    f = _resolve_scd2_key(f, tgt["tgt_dim_product"], "product_id",
                          "product_key", "inv_date", "product_key_t")
    f = _resolve_scd2_key(f, tgt["tgt_dim_store"], "store_id",
                          "store_key", "inv_date", "store_key_t")
    return f.select(
        "inventory_key", "inventory_id",
        F.col("date_key_t").alias("date_key"),
        F.col("product_key_t").alias("product_key"),
        F.col("store_key_t").alias("store_key"),
        "stock_level", "min_stock_level", "max_stock_level", "reorder_point",
        F.col("last_restock_date_key_t").alias("last_restock_date_key"),
        "days_of_supply", "stock_status", "is_in_stock",
        F.lit(batch_id).alias("etl_batch_id"),
        now_ts.alias("insertion_date"), now_ts.alias("modification_date"),
    ).where(F.col("date_key").isNotNull()
            & F.col("product_key").isNotNull()
            & F.col("store_key").isNotNull())


def build_target_dims(stg: dict[str, DataFrame],
                      prior: dict[str, DataFrame] | None,
                      run_date: str) -> dict[str, DataFrame]:
    """The six target dims: SCD1 merges and SCD2 applies over ``prior``."""
    now_ts = F.lit(run_date).cast("timestamp")
    return {**build_scd1_dims(stg, prior, now_ts),
            **build_scd2_dims(stg, prior, run_date, now_ts)}


def build_target_facts(stg: dict[str, DataFrame], dims: dict[str, DataFrame],
                       run_date: str, batch_id: str) -> dict[str, DataFrame]:
    """The three target facts, their keys resolved against ``dims``
    (see the module docstring for why the load passes the staged dims)."""
    now_ts = F.lit(run_date).cast("timestamp")
    return {
        "tgt_fact_sales": build_fact_sales(stg, dims, batch_id, now_ts),
        "tgt_fact_returns": build_fact_returns(stg, dims, batch_id, now_ts),
        "tgt_fact_inventory": build_fact_inventory(stg, dims, batch_id, now_ts),
    }


def build_target(stg: dict[str, DataFrame], prior: dict[str, DataFrame] | None,
                 run_date: str, batch_id: str) -> dict[str, DataFrame]:
    """Full Staging → Target plan (reference ``etl_target_loader.main``,
    :999-1036): the dims, then the facts over the dims' lazy plans."""
    dims = build_target_dims(stg, prior, run_date)
    return {**dims, **build_target_facts(stg, dims, run_date, batch_id)}
