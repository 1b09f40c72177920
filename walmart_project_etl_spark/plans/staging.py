"""ODS → Staging layer (9 DataFrames). Spark re-expression of reference
``etl_staging_loader.py`` (cleansing + derived business rules + surrogate keys).

Design decisions vs the reference:

- **Surrogate keys**: the reference uses DB auto-increment and reads the keys
  back per table (``etl_staging_loader.py:332-343`` etc.). Here every key —
  dimension AND fact — is a deterministic hash of the row's identity columns
  (``keys.hash_surrogate`` / ``_fact_key``): embarrassingly parallel, no
  global sequence, no single-partition window anywhere in the build. md5-
  derived dim keys stay reproducible in the DuckDB oracles.
- **Key-map dict probes** (J2) become broadcast hash joins. Where the
  reference's ``{natural_id → surrogate}`` dict silently collapses duplicate
  natural ids (same city ⇒ same store_id twice; same product name with two
  prices ⇒ same product_id twice), we replicate that collapse with an explicit
  ``row_number() == 1`` dedup before the join — otherwise the join would
  duplicate fact rows. Winner is pinned by an explicit attribute order per
  dim (the reference's winner is insert-order dependent; documented
  deviation), so the DuckDB oracles can reproduce it without knowing the
  key-hash function.
- ``ETL_BATCH_ID`` is injected (the reference computes it at *import time*,
  ``etl_staging_loader.py:47`` — a reproducibility bug we do not copy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from walmart_project_etl_spark.functions import rules
from walmart_project_etl_spark.functions.keys import hash_surrogate


def _audit(df: DataFrame, batch_id: str, ts) -> DataFrame:
    return (df.withColumn("etl_batch_id", F.lit(batch_id))
              .withColumn("etl_timestamp", ts))


def _surrogate(name: str, *identity: str) -> Column:
    """Deterministic auto-increment replacement (reference
    ``etl_staging_tables.py:54`` etc.): md5-hash of the row's identity
    columns — fully parallel, no global window, reproducible in the DuckDB
    oracles. The identity tuple must be unique per dimension row (it is the
    same column set the previous row_number ordering keyed on)."""
    return hash_surrogate(*identity).alias(name)


def _fact_key(name: str, id_col: str) -> Column:
    """Fact surrogate key: 64-bit hash of the business id.

    Facts keep hash identity instead of a global sequence (reference
    auto-increment, ``etl_staging_tables.py:182``) — a ``row_number()`` with
    no partition would move ALL fact rows through a single task, the exact
    bottleneck that kills a 100 TB load. xxhash64 is deterministic,
    collision-negligible at warehouse scale, and fully parallel.
    """
    return F.xxhash64(F.col(id_col)).alias(name)


def _unique_key_map(dim: DataFrame, natural: str, surrogate: str,
                    order_by: tuple[str, ...] = ()) -> DataFrame:
    """One surrogate per natural id — replicates the reference's dict-probe
    collapse of duplicate natural keys (see module docstring). The winner is
    pinned by ``order_by`` (ascending, nulls first — the attribute order the
    pre-hash surrogate sequence sorted on, so oracle twins stay valid) with
    the surrogate hash as final tiebreak for a total order."""
    w = Window.partitionBy(natural).orderBy(*order_by, surrogate)
    return (dim.select(natural, surrogate, *order_by)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(natural, surrogate))


def build_stg_date(ods_date: DataFrame, batch_id: str, ts) -> DataFrame:
    """stg_date (reference ``etl_staging_loader.py:128-241``): is_weekend,
    fiscal year/quarter pass-throughs, null defaults; key ordered by full_date
    (the reference inserts ORDER BY full_date into an auto-increment table)."""
    return _audit(ods_date.select(
        _surrogate("date_key", "full_date"),
        "date_id", "full_date",
        rules.default_if_null("day_of_week", "Unknown").alias("day_of_week"),
        "day_of_month", "month",
        rules.default_if_null("month_name", "Unknown").alias("month_name"),
        "quarter", "year",
        F.col("day_of_week").isin("Saturday", "Sunday").alias("is_weekend"),
        "is_holiday",
        rules.fiscal_year("full_date").alias("fiscal_year"),
        rules.fiscal_quarter("full_date").alias("fiscal_quarter"),
    ), batch_id, ts)


def build_stg_customer(ods_customer: DataFrame, batch_id: str, ts) -> DataFrame:
    """stg_customer (reference :243-346): age cast (F7), age_group (F8),
    region title-case (F9), 'Unknown' defaults (F10)."""
    age = rules.safe_int_cast("customer_age")
    return _audit(ods_customer.select(
        _surrogate("customer_key", "customer_id"),
        "customer_id",
        # null-OR-blank → 'Unknown' (reference `or 'Unknown'` treats '' as falsy)
        F.when(F.col("customer_name").isNull() | (F.trim("customer_name") == ""),
               F.lit("Unknown")).otherwise(F.trim("customer_name")).alias("customer_name"),
        age.alias("customer_age"),
        rules.age_group(age).alias("age_group"),
        rules.default_if_null("customer_segment", "Unknown").alias("customer_segment"),
        rules.default_if_null("city", "Unknown").alias("city"),
        rules.default_if_null("state", "Unknown").alias("state"),
        rules.default_if_null("zip_code", "Unknown").alias("zip_code"),
        rules.title_case_clean("region").alias("region"),
    ), batch_id, ts)


def build_stg_product(ods_product: DataFrame, ods_supplier: DataFrame,
                      batch_id: str, ts) -> DataFrame:
    """stg_product (reference :348-453): supplier-name enrich via left join
    (J1, reference :354-361), margin % (F11), high-margin flag (F12),
    price tier (F13)."""
    sup = ods_supplier.select("supplier_id", F.col("supplier_name").alias("_sup_name"))
    price = F.coalesce(F.col("unit_price").cast("double"), F.lit(0.0))
    margin = F.coalesce(F.col("product_base_margin").cast("double"), F.lit(0.0))
    margin_pct = rules.margin_percentage(margin, price)
    return _audit(
        ods_product.join(F.broadcast(sup), "supplier_id", "left").select(
            _surrogate("product_key", "product_id", "unit_price", "product_base_margin",
                       "product_container"),
            "product_id",
            rules.default_if_null("product_name", "Unknown Product").alias("product_name"),
            rules.default_if_null("product_category", "Uncategorized").alias("product_category"),
            rules.default_if_null("product_sub_category", "Uncategorized").alias("product_sub_category"),
            rules.default_if_null("product_container", "Unknown").alias("product_container"),
            price.cast("decimal(10,2)").alias("unit_price"),
            rules.price_tier(price).alias("price_tier"),
            margin.alias("product_base_margin"),
            margin_pct.alias("margin_percentage"),
            rules.is_high_margin(margin_pct).alias("is_high_margin"),
            "supplier_id",
            F.coalesce("_sup_name", F.lit("Unknown Supplier")).alias("supplier_name"),
        ), batch_id, ts)


def build_stg_store(ods_store: DataFrame, batch_id: str, ts) -> DataFrame:
    """stg_store (reference :455-545): market derivation (F14) + defaults."""
    return _audit(ods_store.select(
        _surrogate("store_key", "store_id", "zip_code", "state", "region"),
        "store_id",
        rules.default_if_null("store_name", "Unknown Store").alias("store_name"),
        rules.default_if_null("location", "Unknown").alias("location"),
        rules.default_if_null("city", "Unknown").alias("city"),
        rules.default_if_null("state", "Unknown").alias("state"),
        rules.default_if_null("zip_code", "Unknown").alias("zip_code"),
        rules.default_if_null("region", "Unknown").alias("region"),
        rules.market_from_region("region").alias("market"),
    ), batch_id, ts)


def build_stg_supplier(ods_supplier: DataFrame, batch_id: str, ts) -> DataFrame:
    """stg_supplier (reference :547-633): supplier_type from name (F15).

    Note the reference's staging supplier keeps contact columns under
    different names (contact_name/phone/email) than ODS — preserved."""
    return _audit(ods_supplier.select(
        _surrogate("supplier_key", "supplier_id"),
        "supplier_id",
        rules.default_if_null("supplier_name", "Unknown Supplier").alias("supplier_name"),
        rules.supplier_type_from_name(
            rules.default_if_null("supplier_name", "Unknown Supplier")).alias("supplier_type"),
        rules.default_if_null("contact_person", "Unknown").alias("contact_name"),
        rules.default_if_null("phone", "").alias("contact_phone"),
        rules.default_if_null("email", "").alias("contact_email"),
    ), batch_id, ts)


def build_stg_return_reason(ods_reason: DataFrame, batch_id: str, ts) -> DataFrame:
    """stg_return_reason (reference :635-716): impact level (F16) +
    controllable flag (F17). (The reference function famously returns None —
    callers re-read the map at :974-979; a non-bug here since key resolution
    is a join.)"""
    cat = rules.default_if_null("category", "Uncategorized")
    return _audit(ods_reason.select(
        _surrogate("reason_key", "reason_code"),
        rules.default_if_null("reason_code", "UNKNOWN").alias("reason_code"),
        rules.default_if_null("reason_description", "Unknown Reason").alias("reason_description"),
        cat.alias("reason_category"),
        rules.impact_level(cat).alias("impact_level"),
        rules.is_controllable(cat).alias("is_controllable"),
    ), batch_id, ts)


def _resolve(fact: DataFrame, key_map: DataFrame, natural: str, surrogate: str,
             out: str, required: bool) -> DataFrame:
    """J2 dict probe → broadcast hash join. ``required`` rows with no match
    are dropped downstream (P5 skip-if-missing-dim-key)."""
    joined = fact.join(F.broadcast(key_map.withColumnRenamed(surrogate, out)),
                       natural, "left")
    return joined.where(F.col(out).isNotNull()) if required else joined


def build_stg_sales(ods_sales: DataFrame, stg_date: DataFrame, stg_customer: DataFrame,
                    stg_product: DataFrame, stg_store: DataFrame,
                    batch_id: str, ts) -> DataFrame:
    """stg_sales (reference :717-911): resolve 4 dimension keys (transaction
    date / customer / product / store required; ship date optional), compute
    revenue metrics F18-F21."""
    date_map = stg_date.select("date_id", "date_key")
    f = ods_sales.withColumn("_t_date_id", F.date_format("transaction_date", "yyyyMMdd").cast("int")) \
                 .withColumn("_s_date_id", F.date_format("ship_date", "yyyyMMdd").cast("int"))
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_t_date_id"),
                 "_t_date_id", "date_key", "transaction_date_key", required=True)
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_s_date_id"),
                 "_s_date_id", "date_key", "ship_date_key", required=False)
    f = _resolve(f, _unique_key_map(stg_customer, "customer_id", "customer_key"),
                 "customer_id", "customer_key", "customer_key", required=True)
    f = _resolve(f, _unique_key_map(stg_product, "product_id", "product_key",
                                 ("unit_price", "product_base_margin", "product_container")),
                 "product_id", "product_key", "product_key", required=True)
    f = _resolve(f, _unique_key_map(stg_store, "store_id", "store_key",
                                 ("zip_code", "state", "region")),
                 "store_id", "store_key", "store_key", required=True)

    amount = F.coalesce(F.col("sales_amount").cast("double"), F.lit(0.0))
    qty = F.coalesce(F.col("order_quantity"), F.lit(0))
    disc = F.coalesce(F.col("discount"), F.lit(0.0))
    profit = F.coalesce(F.col("profit").cast("double"), F.lit(0.0))
    shipc = F.coalesce(F.col("shipping_cost").cast("double"), F.lit(0.0))
    disc_amt = rules.discount_amount(amount, disc)
    return _audit(f.select(
        _fact_key("sales_key", "sale_id"),
        "sale_id", "order_id", "row_id",
        "transaction_date_key", "product_key", "store_key", "customer_key",
        rules.default_if_null("order_priority", "Standard").alias("order_priority"),
        qty.alias("order_quantity"),
        amount.cast("decimal(12,2)").alias("sales_amount"),
        disc.alias("discount"),
        disc_amt.cast("decimal(10,2)").alias("discount_amount"),
        shipc.cast("decimal(10,2)").alias("shipping_cost"),
        amount.cast("decimal(12,2)").alias("gross_revenue"),
        rules.net_revenue(amount, disc_amt).cast("decimal(12,2)").alias("net_revenue"),
        profit.cast("decimal(12,2)").alias("profit"),
        rules.profit_margin(profit, amount).alias("profit_margin"),
        rules.is_profitable(profit).alias("is_profitable"),
        "ship_date_key",
        rules.default_if_null("ship_mode", "Standard").alias("ship_mode"),
    ), batch_id, ts)


def build_stg_returns(ods_returns: DataFrame, stg_date: DataFrame, stg_product: DataFrame,
                      stg_store: DataFrame, stg_reason: DataFrame,
                      batch_id: str, ts) -> DataFrame:
    """stg_returns (reference :913-1111): resolve keys (return date / product /
    store required; reason + original sale date optional), derive F22/F23."""
    date_map = stg_date.select("date_id", "date_key")
    f = (ods_returns
         .withColumn("_r_date_id", F.date_format("return_date", "yyyyMMdd").cast("int"))
         .withColumn("_o_date_id", F.date_format("original_sale_date", "yyyyMMdd").cast("int")))
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_r_date_id"),
                 "_r_date_id", "date_key", "return_date_key", required=True)
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_o_date_id"),
                 "_o_date_id", "date_key", "original_sale_date_key", required=False)
    f = _resolve(f, _unique_key_map(stg_product, "product_id", "product_key",
                                 ("unit_price", "product_base_margin", "product_container")),
                 "product_id", "product_key", "product_key", required=True)
    f = _resolve(f, _unique_key_map(stg_store, "store_id", "store_key",
                                 ("zip_code", "state", "region")),
                 "store_id", "store_key", "store_key", required=True)
    f = _resolve(f, _unique_key_map(stg_reason, "reason_code", "reason_key"),
                 "reason_code", "reason_key", "reason_key", required=False)

    amount = F.coalesce(F.col("return_amount").cast("double"), F.lit(0.0))
    qty = F.coalesce(F.col("quantity_returned"), F.lit(0))
    days = rules.days_since_sale("return_date", "original_sale_date")
    return _audit(f.select(
        _fact_key("return_key", "return_id"),
        "return_id", "return_date_key", "product_key", "store_key", "reason_key",
        rules.default_if_null("reason_code", "UNKNOWN").alias("reason_code"),
        amount.cast("decimal(12,2)").alias("return_amount"),
        qty.alias("quantity_returned"),
        rules.avg_return_price(amount, qty).cast("decimal(10,2)").alias("avg_return_price"),
        "original_sale_id", "original_sale_date_key",
        days.alias("days_since_sale"),
        F.coalesce(rules.is_within_30_days(days), F.lit(False)).alias("is_within_30_days"),
        rules.default_if_null("return_condition", "Unknown").alias("return_condition"),
    ), batch_id, ts)


def build_stg_inventory(ods_inventory: DataFrame, stg_date: DataFrame,
                        stg_product: DataFrame, stg_store: DataFrame,
                        batch_id: str, ts) -> DataFrame:
    """stg_inventory (reference :1115-1313): resolve keys, derive days-of-supply
    (F24), stock status (F25), in-stock flag (F26)."""
    date_map = stg_date.select("date_id", "date_key")
    f = (ods_inventory
         .withColumn("_i_date_id", F.date_format("inventory_date", "yyyyMMdd").cast("int"))
         .withColumn("_rs_date_id", F.date_format("last_restock_date", "yyyyMMdd").cast("int")))
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_i_date_id"),
                 "_i_date_id", "date_key", "date_key", required=True)
    f = _resolve(f, date_map.withColumnRenamed("date_id", "_rs_date_id"),
                 "_rs_date_id", "date_key", "last_restock_date_key", required=False)
    f = _resolve(f, _unique_key_map(stg_product, "product_id", "product_key",
                                 ("unit_price", "product_base_margin", "product_container")),
                 "product_id", "product_key", "product_key", required=True)
    f = _resolve(f, _unique_key_map(stg_store, "store_id", "store_key",
                                 ("zip_code", "state", "region")),
                 "store_id", "store_key", "store_key", required=True)

    stock = F.coalesce(F.col("stock_level"), F.lit(0))
    min_s = F.coalesce(F.col("min_stock_level"), F.lit(0))
    max_s = F.coalesce(F.col("max_stock_level"), F.lit(0))
    reorder = F.coalesce(F.col("reorder_point"), F.lit(0))
    return _audit(f.select(
        _fact_key("inventory_key", "inventory_id"),
        "inventory_id", "date_key", "product_key", "store_key",
        stock.alias("stock_level"),
        min_s.alias("min_stock_level"),
        max_s.alias("max_stock_level"),
        reorder.alias("reorder_point"),
        "last_restock_date_key",
        rules.days_of_supply(stock, min_s).alias("days_of_supply"),
        rules.stock_status(stock, reorder, min_s, max_s).alias("stock_status"),
        rules.is_in_stock(stock).alias("is_in_stock"),
    ), batch_id, ts)


def build_staging_dims(ods: dict[str, DataFrame], batch_id: str,
                       run_date: str) -> dict[str, DataFrame]:
    """The six staging dimensions, built from ODS alone."""
    ts = F.lit(run_date).cast("timestamp")
    return {
        "stg_date": build_stg_date(ods["ods_date"], batch_id, ts),
        "stg_customer": build_stg_customer(ods["ods_customer"], batch_id, ts),
        "stg_product": build_stg_product(ods["ods_product"], ods["ods_supplier"],
                                          batch_id, ts),
        "stg_store": build_stg_store(ods["ods_store"], batch_id, ts),
        "stg_supplier": build_stg_supplier(ods["ods_supplier"], batch_id, ts),
        "stg_return_reason": build_stg_return_reason(ods["ods_return_reason"],
                                                     batch_id, ts),
    }


def build_staging_facts(ods: dict[str, DataFrame], dims: dict[str, DataFrame],
                        batch_id: str, run_date: str) -> dict[str, DataFrame]:
    """The three staging facts, their keys resolved against ``dims`` —
    :func:`build_staging_dims`' frames, or those tables as written, so
    the key-map dedup runs over files instead of re-running the dim
    plans inside every fact."""
    ts = F.lit(run_date).cast("timestamp")
    date, product, store = dims["stg_date"], dims["stg_product"], dims["stg_store"]
    return {
        "stg_sales": build_stg_sales(ods["ods_sales"], date, dims["stg_customer"],
                                     product, store, batch_id, ts),
        "stg_returns": build_stg_returns(ods["ods_returns"], date, product, store,
                                         dims["stg_return_reason"], batch_id, ts),
        "stg_inventory": build_stg_inventory(ods["ods_inventory"], date,
                                             product, store, batch_id, ts),
    }


def build_staging(ods: dict[str, DataFrame], batch_id: str, run_date: str) -> dict[str, DataFrame]:
    """Full ODS → Staging plan (reference ``load_staging_layer``, :1385-1415):
    the dims, then the facts over the dims' lazy plans."""
    dims = build_staging_dims(ods, batch_id, run_date)
    return {**dims, **build_staging_facts(ods, dims, batch_id, run_date)}
