"""End-to-end ETL pipeline queries on the reference CSV.

These run the REAL plans (``sources.ingest`` → ``plans.ods`` →
``plans.staging``) on the reference CSV (``REFERENCE_CSV``) and oracle
them against DuckDB reading the same CSV — the strongest correctness gate:
every hash-key, mode-pick, rule derivation, and join in the lineage must
match SQL recomputed from the raw file.

The ODS+staging frames are built once per process and materialized to a
temp parquet warehouse; each query then reads its table back (fast), so
the driver pays the pipeline cost once, not per query.

Oracle window tie-breaks use explicit NULLS FIRST to match Spark's
ascending-nulls-first default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from walmart_project_etl_spark.functions import rules

from .util import pinned

#: where the reference CSVs live — a deployment setting, overridden by
#: ``$REFERENCE_DATA_DIR``
REFERENCE_DATA_DIR = os.environ.get("REFERENCE_DATA_DIR",
                                    "/root/reference/data")
REFERENCE_CSV = os.path.join(REFERENCE_DATA_DIR, "walmart_data.csv")
RUN_DATE = "2025-01-01"
BATCH_ID = "BATCH_1"

QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn
    return deco


# DuckDB twin of sources.ingest.read_source_csv (canonical names + parsed dates)
_SRC = f"""
src AS (
  SELECT "City" AS city, "Customer Age" AS customer_age,
         "Customer Name" AS customer_name, "Customer Segment" AS customer_segment,
         try_cast("Discount" AS DOUBLE) AS discount,
         CAST(strptime("Order Date", '%m/%d/%Y') AS DATE) AS order_date,
         try_cast("Order ID" AS BIGINT) AS order_id,
         "Order Priority" AS order_priority,
         try_cast("Order Quantity" AS INT) AS order_quantity,
         try_cast("Product Base Margin" AS DOUBLE) AS product_base_margin,
         "Product Category" AS product_category,
         "Product Container" AS product_container,
         "Product Name" AS product_name,
         "Product Sub-Category" AS product_sub_category,
         try_cast("Profit" AS DOUBLE) AS profit, "Region" AS region,
         try_cast("Row ID" AS BIGINT) AS row_id,
         try_cast("Sales" AS DOUBLE) AS sales,
         CAST(strptime("Ship Date", '%m/%d/%Y') AS DATE) AS ship_date,
         "Ship Mode" AS ship_mode,
         try_cast("Shipping Cost" AS DOUBLE) AS shipping_cost,
         "State" AS state, try_cast("Unit Price" AS DOUBLE) AS unit_price,
         "Zip Code" AS zip_code
  FROM read_csv('{REFERENCE_CSV}', header=true, all_varchar=true)),
src2 AS (
  -- ODS stores sales/profit as DECIMAL(12,2) (reference Numeric(12,2)):
  -- replicate Spark's HALF_UP double→decimal cast via the exact
  -- decimal(28,8) route so both engines round the same way
  SELECT src.*, round(CAST(sales AS DECIMAL(28,8)), 2)::DOUBLE AS sales2,
         round(CAST(profit AS DECIMAL(28,8)), 2)::DOUBLE AS profit2
  FROM src)
"""

_WAREHOUSE: dict[str, str] = {}


def _star(spark: SparkSession) -> str:
    """Build ODS+staging+target once per (process, code version) into a
    temp parquet warehouse. ``build_once`` keys the cache dir on a hash of
    the package sources, so outputs from an older code version are rebuilt,
    never silently reused."""
    from walmart_project_etl_spark.queries.util import build_once

    key = "root"
    if key in _WAREHOUSE:
        return _WAREHOUSE[key]

    def build(root: str) -> None:
        from walmart_project_etl_spark.plans.ods import build_ods
        from walmart_project_etl_spark.plans.staging import build_staging
        from walmart_project_etl_spark.plans.target import build_target
        from walmart_project_etl_spark.sources.ingest import read_source_csv

        # materialize each layer BEFORE building the next (same staging as
        # pipeline.run_pipeline): otherwise every staging/target write
        # re-executes the whole CSV→ODS lineage — at 9 staging tables
        # that's 9 redundant ODS computations (and at 100 TB, 9 scans)
        def persist(frames: dict) -> dict:
            from walmart_project_etl_spark.pipeline import _parallel_writes
            _parallel_writes(
                (lambda n=n, d=d: d.write.mode("overwrite")
                    .parquet(os.path.join(root, n)))
                for n, d in frames.items())
            return {name: spark.read.parquet(os.path.join(root, name))
                    for name in frames}

        src = read_source_csv(spark, REFERENCE_CSV)
        ods = persist(build_ods(spark, src, run_date=RUN_DATE))
        stg = persist(build_staging(ods, batch_id=BATCH_ID, run_date=RUN_DATE))
        persist(build_target(stg, None, run_date=RUN_DATE, batch_id=BATCH_ID))

    _WAREHOUSE[key] = build_once("star_cache", build)
    return _WAREHOUSE[key]


def _wt(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_star(spark), table))


def invalidate_star_cache() -> None:
    """Drop the materialized star warehouse (process cache + on-disk dir) so
    the next ``pipe_*`` query rebuilds the FULL ingest→ODS→staging→target
    pipeline — used by ``bench.py`` to time the end-to-end pipeline cold."""
    import shutil
    import tempfile

    from walmart_project_etl_spark.queries.util import code_version

    _WAREHOUSE.clear()
    shutil.rmtree(os.path.join(tempfile.gettempdir(),
                               f"wpe_star_cache_{code_version()}"),
                  ignore_errors=True)


# ----------------------------------------------------------- ingest / ODS

@q("pipe_s01_s02_f04_csv_ingest",
   f"""WITH {_SRC}
      SELECT count(*) AS n_rows,
             count(order_date) AS n_order_dates,
             count(ship_date) AS n_ship_dates,
             count(*) - count(product_base_margin) AS n_null_margin,
             count(*) - count(customer_age) AS n_null_age,
             round(sum(CAST(sales AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales,
             round(sum(CAST(profit AS DECIMAL(28,6))), 2)::DOUBLE AS total_profit
      FROM src""")
def pipe_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+F4: CSV scan with declared schema, ''→NULL, multi-format date
    parse — end-to-end against DuckDB's own CSV reader."""
    from walmart_project_etl_spark.sources.ingest import read_source_csv
    src = read_source_csv(spark, REFERENCE_CSV)
    return src.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("order_date").alias("n_order_dates"),
        F.count("ship_date").alias("n_ship_dates"),
        (F.count(F.lit(1)) - F.count("product_base_margin")).alias("n_null_margin"),
        (F.count(F.lit(1)) - F.count("customer_age")).alias("n_null_age"),
        F.round(F.sum(F.col("sales").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_sales"),
        F.round(F.sum(F.col("profit").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_profit"))


@q("pipe_u01_f02_f03_ods_dates",
   f"""WITH {_SRC},
      days AS (SELECT order_date AS full_date FROM src WHERE order_date IS NOT NULL
               UNION SELECT ship_date FROM src WHERE ship_date IS NOT NULL)
      SELECT year(full_date)*10000 + month(full_date)*100 + day(full_date) AS date_id,
             CAST(full_date AS VARCHAR) AS full_date,
             dayname(full_date) AS day_of_week,
             day(full_date) AS day_of_month, month(full_date) AS month,
             monthname(full_date) AS month_name, quarter(full_date) AS quarter,
             year(full_date) AS year, false AS is_holiday
      FROM days""")
def pipe_ods_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS date dim: U1 union+distinct of order/ship dates, F2 int id, F3
    date parts (reference ``etl_ods_loader.py:197-252``)."""
    return _wt(spark, "ods_date").select(
        "date_id", F.date_format("full_date", "yyyy-MM-dd").alias("full_date"),
        "day_of_week", "day_of_month", "month",
        "month_name", "quarter", "year", "is_holiday")


@q("pipe_a01_a02_f01_ods_customers",
   f"""WITH {_SRC},
      loc_counts AS (
        SELECT customer_name, city, state, zip_code, region, count(*) AS cnt
        FROM src GROUP BY 1,2,3,4,5),
      primary_loc AS (
        SELECT customer_name, city, state, zip_code, region FROM loc_counts
        QUALIFY row_number() OVER (PARTITION BY customer_name
                ORDER BY cnt DESC, city NULLS FIRST, state NULLS FIRST,
                         zip_code NULLS FIRST, region NULLS FIRST) = 1),
      firsts AS (
        SELECT customer_name, customer_age, customer_segment FROM src
        QUALIFY row_number() OVER (PARTITION BY customer_name
                ORDER BY row_id NULLS FIRST) = 1)
      SELECT concat('CUST_', substr(md5(p.customer_name), 1, 14)) AS customer_id,
             p.customer_name, f.customer_age, f.customer_segment,
             p.city, p.state, p.zip_code, p.region
      FROM primary_loc p JOIN firsts f USING (customer_name)""")
def pipe_ods_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS customer dim: A1 mode location (pinned tie-break), A2 first
    age/segment by row_id, F1 hash id (reference
    ``etl_ods_loader.py:254-304``)."""
    return _wt(spark, "ods_customer").select(
        "customer_id", "customer_name", "customer_age", "customer_segment",
        "city", "state", "zip_code", "region")


@q("pipe_a09_f01_ods_products",
   f"""WITH {_SRC}
      SELECT DISTINCT concat('PROD_', substr(md5(product_name), 1, 14)) AS product_id,
             product_name, product_category, product_sub_category,
             product_container, product_base_margin,
             CAST(unit_price AS DECIMAL(10,2))::DOUBLE AS unit_price
      FROM src""")
def pipe_ods_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS product dim: A9 distinct projection + F1 hash id (supplier pick
    is xxhash-based, exact-checked via pinned goldens elsewhere; reference
    ``etl_ods_loader.py:398-449``). unit_price surfaces as DOUBLE on both
    sides (the warehouse column stays DECIMAL(10,2); a decimal output
    arrives in pandas as object and breaks the driver's dtype-sensitive
    hash — exact at 2 decimals either way)."""
    return _wt(spark, "ods_product").select(
        "product_id", "product_name", "product_category", "product_sub_category",
        "product_container", "product_base_margin",
        F.col("unit_price").cast("double").alias("unit_price")).distinct()


@q("pipe_f01_ods_stores",
   f"""WITH {_SRC}
      SELECT DISTINCT
             concat('STORE_', substr(md5(concat(city, ' Store')), 1, 14)) AS store_id,
             concat(city, ' Store') AS store_name,
             concat_ws(', ', city, state) AS location,
             city, state, zip_code, region
      FROM src""")
def pipe_ods_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS store dim: distinct location tuples; id hashes the CITY only so
    one city with several zips keeps duplicate store_ids (reference
    ``etl_ods_loader.py:451-480``)."""
    return _wt(spark, "ods_store").select(
        "store_id", "store_name", "location", "city", "state", "zip_code", "region")


@q("pipe_p03_p04_ods_sales",
   f"""WITH {_SRC}
      SELECT count(*) AS n_sales,
             count(DISTINCT concat('CUST_', substr(md5(customer_name),1,14))) AS n_customers,
             count(DISTINCT concat('PROD_', substr(md5(product_name),1,14))) AS n_products,
             round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales,
             round(sum(CAST(profit2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_profit,
             CAST(sum(order_quantity) AS BIGINT) AS total_quantity
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL""")
def pipe_ods_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS sales fact: P3 null-date filter + P4 date-membership semi-join +
    in-plan key resolution; golden totals vs raw CSV (reference
    ``etl_ods_loader.py:526-615``)."""
    s = _wt(spark, "ods_sales")
    return s.agg(
        F.count(F.lit(1)).alias("n_sales"),
        F.countDistinct("customer_id").alias("n_customers"),
        F.countDistinct("product_id").alias("n_products"),
        F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_sales"),
        F.round(F.sum(F.col("profit").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_profit"),
        F.sum("order_quantity").alias("total_quantity"))


# ----------------------------------------------------------- staging rules

@q("pipe_f07_f08_stg_customer_ages",
   f"""WITH {_SRC},
      firsts AS (
        SELECT customer_name, customer_age FROM src
        QUALIFY row_number() OVER (PARTITION BY customer_name
                ORDER BY row_id NULLS FIRST) = 1),
      aged AS (SELECT try_cast(customer_age AS DOUBLE)::INT AS age FROM firsts)
      SELECT CASE WHEN age IS NULL THEN 'Unknown'
                  WHEN age < 18 THEN 'Under 18' WHEN age < 35 THEN '18-34'
                  WHEN age < 50 THEN '35-49' WHEN age < 65 THEN '50-64'
                  ELSE '65+' END AS age_group, count(*) AS n
      FROM aged GROUP BY age_group""")
def pipe_stg_customer_ages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging customer: F7 safe cast + F8 age buckets over the canonical
    per-customer age (reference ``etl_staging_loader.py:270-292``)."""
    c = _wt(spark, "stg_customer")
    return c.groupBy("age_group").agg(F.count(F.lit(1)).alias("n"))


@q("pipe_f11_f13_stg_products",
   f"""WITH {_SRC},
      prod AS (SELECT DISTINCT product_name, product_category, product_sub_category,
                      product_container, product_base_margin, unit_price FROM src),
      x AS (SELECT coalesce(unit_price, 0) AS price,
                   coalesce(product_base_margin, 0) AS margin FROM prod),
      y AS (SELECT CASE WHEN price > 0 THEN round(margin / price * 100.0, 2)
                        ELSE 0.0 END AS margin_percentage,
                   CASE WHEN price < 10 THEN 'Low' WHEN price < 50 THEN 'Medium'
                        WHEN price < 100 THEN 'High' ELSE 'Premium' END AS price_tier
            FROM x)
      SELECT price_tier, margin_percentage > 30.0 AS is_high_margin, count(*) AS n,
             round(sum(CAST(margin_percentage AS DECIMAL(28,6))), 2)::DOUBLE
               AS sum_margin_pct
      FROM y GROUP BY price_tier, is_high_margin""")
def pipe_stg_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging product: F11 margin %, F12 high-margin flag, F13 price tier
    (reference ``etl_staging_loader.py:383-397``)."""
    p = _wt(spark, "stg_product")
    return (p.groupBy("price_tier", "is_high_margin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("margin_percentage").cast("decimal(28,6)")), 2)
                  .cast("double").alias("sum_margin_pct")))


@q("pipe_f14_stg_store_markets",
   f"""WITH {_SRC},
      st AS (SELECT DISTINCT city, state, zip_code, region FROM src),
      m AS (SELECT coalesce(region, 'Unknown') AS region FROM st)
      SELECT CASE WHEN region IS NULL THEN 'Unknown'
                  WHEN lower(region) IN ('east','northeast','southeast') THEN 'East Coast'
                  WHEN lower(region) IN ('west','northwest','southwest','pacific') THEN 'West Coast'
                  WHEN lower(region) IN ('central','midwest','north central','south central') THEN 'Central'
                  WHEN lower(region) IN ('south','southwest','southeast') THEN 'South'
                  ELSE 'Other' END AS market, count(*) AS n
      FROM m GROUP BY market""")
def pipe_stg_store_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging store: F14 market derivation with the reference's
    branch-shadowing order (reference ``etl_staging_loader.py:485-497``)."""
    s = _wt(spark, "stg_store")
    return s.groupBy("market").agg(F.count(F.lit(1)).alias("n"))


@q("pipe_f18_f21_stg_sales_metrics",
   f"""WITH {_SRC},
      x AS (SELECT coalesce(sales2, 0) AS amount,
                   coalesce(discount, 0) AS disc,
                   coalesce(profit2, 0) AS profit
            FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL),
      y AS (SELECT amount,
                   round(CAST(amount * disc AS DECIMAL(28,8)), 2)::DOUBLE AS discount_amount,
                   profit FROM x),
      z AS (SELECT amount AS gross_revenue,
                   round(CAST(amount - discount_amount AS DECIMAL(28,8)), 2)::DOUBLE AS net_revenue,
                   discount_amount, profit,
                   CASE WHEN amount > 0
                        THEN round(CAST(profit / amount * 100.0 AS DECIMAL(28,8)), 2)::DOUBLE
                        ELSE 0.0 END AS profit_margin,
                   profit > 0 AS is_profitable
            FROM y)
      SELECT is_profitable, count(*) AS n,
             round(sum(CAST(gross_revenue AS DECIMAL(28,6))), 2)::DOUBLE AS sum_gross,
             round(sum(CAST(net_revenue AS DECIMAL(28,6))), 2)::DOUBLE AS sum_net,
             round(sum(CAST(discount_amount AS DECIMAL(28,6))), 2)::DOUBLE AS sum_discount,
             round(sum(CAST(profit_margin AS DECIMAL(28,6))), 2)::DOUBLE AS sum_margin
      FROM z GROUP BY is_profitable""")
def pipe_stg_sales_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging sales fact: F18-F21 revenue metrics through the full
    ODS→staging lineage (reference ``etl_staging_loader.py:841-845``)."""
    s = _wt(spark, "stg_sales")
    return (s.groupBy("is_profitable").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("gross_revenue").cast("decimal(28,6)")), 2)
         .cast("double").alias("sum_gross"),
        F.round(F.sum(F.col("net_revenue").cast("decimal(28,6)")), 2)
         .cast("double").alias("sum_net"),
        F.round(F.sum(F.col("discount_amount").cast("decimal(28,6)")), 2)
         .cast("double").alias("sum_discount"),
        F.round(F.sum(F.col("profit_margin").cast("decimal(28,6)")), 2)
         .cast("double").alias("sum_margin")))


# ----------------------------------------------------------- BI acceptance

@q("pipe_bi_kpi_totals",
   f"""WITH {_SRC}
      SELECT round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales,
             round(sum(CAST(profit2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_profit,
             CAST(sum(order_quantity) AS BIGINT) AS total_quantity, count(*) AS n_sales
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL""")
def pipe_bi_kpi_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI KPI card totals (reference ``BUSINESS_REQUIREMENTS.md:35-38``;
    note the doc's published numbers do NOT match its own CSV — golden
    values are CSV-derived, see VERDICT r1 §wrong-6)."""
    s = _wt(spark, "stg_sales")
    return s.agg(
        F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_sales"),
        F.round(F.sum(F.col("profit").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_profit"),
        F.sum("order_quantity").alias("total_quantity"),
        F.count(F.lit(1)).alias("n_sales"))


@q("pipe_bi_sales_by_category",
   f"""WITH {_SRC}
      SELECT product_category, count(*) AS n,
             round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL
      GROUP BY product_category""")
def pipe_bi_sales_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: sales by product category via fact→product-dim join
    (reference ``BUSINESS_REQUIREMENTS.md:10-11``)."""
    s = _wt(spark, "stg_sales")
    p = _wt(spark, "stg_product").select("product_key", "product_category")
    return (s.join(F.broadcast(p), "product_key")
            .groupBy("product_category")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                  .cast("double").alias("total_sales")))


@q("pipe_bi_sales_by_state",
   f"""WITH {_SRC}
      SELECT state, round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL
      GROUP BY state""")
def pipe_bi_sales_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: sales by transaction state (reference BUSINESS_REQUIREMENTS)."""
    s = _wt(spark, "ods_sales")
    return (s.groupBy(F.col("transaction_state").alias("state"))
            .agg(F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_sales")))


@q("pipe_bi_sales_by_segment",
   f"""WITH {_SRC},
      firsts AS (SELECT customer_name, customer_segment FROM src
                 QUALIFY row_number() OVER (PARTITION BY customer_name
                         ORDER BY row_id NULLS FIRST) = 1)
      SELECT coalesce(f.customer_segment, 'Unknown') AS customer_segment,
             round(sum(CAST(s.sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales
      FROM src2 s JOIN firsts f USING (customer_name)
      WHERE s.order_date IS NOT NULL AND s.ship_date IS NOT NULL
      GROUP BY 1""")
def pipe_bi_sales_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: sales by customer segment via fact→customer-dim join (segment is
    the customer's canonical first-row segment, not the line's)."""
    s = _wt(spark, "stg_sales")
    c = _wt(spark, "stg_customer").select("customer_key", "customer_segment")
    return (s.join(F.broadcast(c), "customer_key")
            .groupBy("customer_segment")
            .agg(F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_sales")))


@q("pipe_bi_sales_by_shipmode",
   f"""WITH {_SRC}
      SELECT coalesce(ship_mode, 'Standard') AS ship_mode,
             round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales,
             count(*) AS n
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL
      GROUP BY 1""")
def pipe_bi_sales_by_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: sales by ship mode (F10 default applied in staging)."""
    s = _wt(spark, "stg_sales")
    return (s.groupBy("ship_mode")
            .agg(F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_sales"),
                 F.count(F.lit(1)).alias("n")))


@q("pipe_bi_profit_by_year",
   f"""WITH {_SRC}
      SELECT year(order_date) AS year,
             round(sum(CAST(profit2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_profit
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL
      GROUP BY 1""")
def pipe_bi_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: profit by year via fact→date-dim join (exercises the
    transaction_date_key resolution)."""
    s = _wt(spark, "stg_sales")
    d = _wt(spark, "stg_date").select(
        F.col("date_key").alias("transaction_date_key"), "year")
    return (s.join(F.broadcast(d), "transaction_date_key")
            .groupBy("year")
            .agg(F.round(F.sum(F.col("profit").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_profit")))


@q("pipe_bi_sales_by_agegroup",
   f"""WITH {_SRC},
      firsts AS (SELECT customer_name, customer_age FROM src
                 QUALIFY row_number() OVER (PARTITION BY customer_name
                         ORDER BY row_id NULLS FIRST) = 1),
      aged AS (SELECT customer_name,
                      try_cast(customer_age AS DOUBLE)::INT AS age FROM firsts),
      grp AS (SELECT customer_name,
                     CASE WHEN age IS NULL THEN 'Unknown'
                          WHEN age < 18 THEN 'Under 18' WHEN age < 35 THEN '18-34'
                          WHEN age < 50 THEN '35-49' WHEN age < 65 THEN '50-64'
                          ELSE '65+' END AS age_group FROM aged)
      SELECT g.age_group,
             round(sum(CAST(s.sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales
      FROM src2 s JOIN grp g USING (customer_name)
      WHERE s.order_date IS NOT NULL AND s.ship_date IS NOT NULL
      GROUP BY g.age_group""")
def pipe_bi_sales_by_agegroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: sales by customer age group (F7/F8 through the dim join)."""
    s = _wt(spark, "stg_sales")
    c = _wt(spark, "stg_customer").select("customer_key", "age_group")
    return (s.join(F.broadcast(c), "customer_key")
            .groupBy("age_group")
            .agg(F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_sales")))


@q("pipe_bi_net_revenue_by_region",
   f"""WITH {_SRC},
      canon AS (SELECT city, region FROM (SELECT DISTINCT city, state, zip_code, region FROM src)
                QUALIFY row_number() OVER (PARTITION BY city
                        ORDER BY zip_code NULLS FIRST, state NULLS FIRST,
                                 region NULLS FIRST) = 1),
      x AS (SELECT coalesce(c.region, 'Unknown') AS region,
                   round(CAST(coalesce(s.sales2,0)
                         - round(CAST(coalesce(s.sales2,0) * coalesce(s.discount,0)
                                 AS DECIMAL(28,8)), 2)
                         AS DECIMAL(28,8)), 2)::DOUBLE AS net_revenue
            FROM src2 s JOIN canon c USING (city)
            WHERE s.order_date IS NOT NULL AND s.ship_date IS NOT NULL)
      SELECT region, round(sum(CAST(net_revenue AS DECIMAL(28,6))), 2)::DOUBLE
               AS total_net_revenue
      FROM x GROUP BY region""")
def pipe_bi_net_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: net revenue by store region — the store dim collapses duplicate
    city-hash ids to one canonical row (J2 dict-collapse semantics,
    pinned), so region comes from that canonical store."""
    s = _wt(spark, "stg_sales")
    st = _wt(spark, "stg_store").select("store_key", "region")
    return (s.join(F.broadcast(st), "store_key")
            .groupBy("region")
            .agg(F.round(F.sum(F.col("net_revenue").cast("decimal(28,6)")), 2)
                 .cast("double").alias("total_net_revenue")))


@q("pipe_bi_returns_by_category", pinned("pipe_bi_returns_by_category"))
def pipe_bi_returns_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI: returns by product category. Oracle = pinned sf0.01 golden
    (3 category rows) — the returns fact is
    synthesized with seeded xxhash draws (F31), not reproducible in SQL."""
    r = _wt(spark, "stg_returns")
    p = _wt(spark, "stg_product").select("product_key", "product_category")
    return (r.join(F.broadcast(p), "product_key")
            .groupBy("product_category")
            .agg(F.count(F.lit(1)).alias("n_returns"),
                 F.round(F.sum(F.col("return_amount").cast("decimal(28,6)")), 2)
                  .cast("double").alias("total_returned")))


@q("pipe_f31_f32_synthetic_facts", pinned("pipe_f31_f32_synthetic_facts"))
def pipe_synthetic_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31/F32 + O1/O3: synthetic returns (~10% of latest 5000 sales) and
    bounded inventory grid (30 dates × ≤100 products × ≤50 stores).
    Oracle = pinned sf0.01 golden; volume bounds asserted in tests/."""
    r = _wt(spark, "ods_returns")
    i = _wt(spark, "ods_inventory")
    return r.agg(F.count(F.lit(1)).alias("n_returns")).crossJoin(
        i.agg(F.count(F.lit(1)).alias("n_inventory"),
              F.countDistinct("inventory_date").alias("n_snapshot_days")))


# ----------------------------------------------------------- target layer

@q("pipe_d01_d02_tgt_dim_counts",
   f"""WITH {_SRC},
      days AS (SELECT order_date AS d FROM src WHERE order_date IS NOT NULL
               UNION SELECT ship_date FROM src WHERE ship_date IS NOT NULL)
      SELECT (SELECT count(*) FROM days) AS n_dim_date,
             (SELECT count(DISTINCT customer_name) FROM src) AS n_dim_customer,
             (SELECT count(DISTINCT product_category) FROM src)
               + (SELECT count(DISTINCT product_sub_category) FROM src) AS n_dim_supplier,
             10 AS n_dim_return_reason,
             (SELECT count(DISTINCT product_name) FROM src) AS n_dim_product,
             (SELECT count(DISTINCT city) FROM src) AS n_dim_store,
             (SELECT count(DISTINCT product_name) FROM src) AS n_product_current,
             (SELECT count(DISTINCT city) FROM src) AS n_store_current""")
def pipe_tgt_dim_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2: target dimension cardinalities after the initial MERGE/SCD2
    load — one row per natural key, SCD2 dims all current version 1
    (reference ``etl_target_loader.py:86-656``)."""
    counts = {}
    for name, alias in [("tgt_dim_date", "n_dim_date"),
                        ("tgt_dim_customer", "n_dim_customer"),
                        ("tgt_dim_supplier", "n_dim_supplier"),
                        ("tgt_dim_return_reason", "n_dim_return_reason"),
                        ("tgt_dim_product", "n_dim_product"),
                        ("tgt_dim_store", "n_dim_store")]:
        counts[alias] = _wt(spark, name).count()
    counts["n_product_current"] = _wt(spark, "tgt_dim_product").where("is_current").count()
    counts["n_store_current"] = _wt(spark, "tgt_dim_store").where("is_current").count()
    return spark.createDataFrame([tuple(counts.values())],
                                 ", ".join(f"{k} long" for k in counts))


@q("pipe_j08_j09_tgt_sales_by_category",
   f"""WITH {_SRC}
      SELECT product_category, count(*) AS n,
             round(sum(CAST(sales2 AS DECIMAL(28,6))), 2)::DOUBLE AS total_sales
      FROM src2 WHERE order_date IS NOT NULL AND ship_date IS NOT NULL
      GROUP BY product_category""")
def pipe_tgt_sales_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/J9 end-to-end: tgt_fact_sales rows resolved their product key via
    the SCD2 interval join; aggregating through tgt_dim_product must still
    reproduce the raw-CSV category totals (reference
    ``etl_target_loader.py:711-776``)."""
    f = _wt(spark, "tgt_fact_sales")
    p = _wt(spark, "tgt_dim_product").select("product_key", "product_category")
    return (f.join(F.broadcast(p), "product_key")
            .groupBy("product_category")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2)
                  .cast("double").alias("total_sales")))


@q("pipe_d02_tgt_scd2_shape",
   """SELECT 1 AS version, true AS is_current,
             '2000-01-01' AS effective_date, '9999-12-31' AS expiry_date""")
def pipe_tgt_scd2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: initial SCD2 load shape — every product row is version 1,
    current, backfilled effective, far-future expiry (reference
    ``etl_target_loader.py:347-388``)."""
    p = _wt(spark, "tgt_dim_product")
    return (p.select("version", "is_current",
                     F.date_format("effective_date", "yyyy-MM-dd").alias("effective_date"),
                     F.date_format("expiry_date", "yyyy-MM-dd").alias("expiry_date"))
            .distinct())


@q("pipe_j03_a04_quality_gates",
   f"""WITH {_SRC}
      SELECT 0 AS n_fk_violations, 8 AS n_fk_checks,
             (SELECT count(*) FROM src
              WHERE order_date IS NOT NULL AND ship_date IS NOT NULL) >= 5000
               AS sales_volume_ok,
             (SELECT count(DISTINCT product_name) FROM src) >= 1000
               AS product_volume_ok""")
def pipe_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 + A4: the 8 FK checks and volume gates, all green on the
    reference CSV (reference ``etl_ods_loader.py:904-1018``)."""
    from walmart_project_etl_spark.quality import fk_checks, volume_checks
    ods = {name: _wt(spark, name) for name in (
        "ods_date", "ods_customer", "ods_product", "ods_store",
        "ods_supplier", "ods_return_reason", "ods_sales", "ods_returns",
        "ods_inventory")}
    fk = fk_checks(spark, ods)
    vol = {r["check"]: r["passed"] for r in volume_checks(spark, ods).collect()}
    agg = fk.agg(F.sum(F.when(~F.col("passed"), F.col("value")).otherwise(0))
                  .cast("int").alias("n_fk_violations"),
                 F.count(F.lit(1)).cast("int").alias("n_fk_checks"))
    return agg.select(
        "n_fk_violations", "n_fk_checks",
        F.lit(bool(vol["min_sales_volume"])).alias("sales_volume_ok"),
        F.lit(bool(vol["min_product_count"])).alias("product_volume_ok"))


_SCD_V1 = os.path.join(REFERENCE_DATA_DIR, "scd_test_corrected.csv")
_SCD_V2 = os.path.join(REFERENCE_DATA_DIR, "scd_test_2.csv")


def _scd_fixture(spark: SparkSession) -> str:
    """Two full pipeline runs on the reference's canonical SCD2 fixture
    CSVs (reference ``config.py:27-52``): run 1 initializes the warehouse,
    run 2 (mutated Unit Price / State / Ship Date) must expire v1 rows and
    insert v2. Built once per (process, code version)."""
    from walmart_project_etl_spark.queries.util import build_once

    key = "scd_fixture"
    if key in _WAREHOUSE:
        return _WAREHOUSE[key]

    def build(root: str) -> None:
        from walmart_project_etl_spark.pipeline import run_pipeline
        wh = os.path.join(root, "wh")
        # tiny fixtures violate the volume gates by design
        run_pipeline(spark, _SCD_V1, wh, run_date="2025-01-01",
                     batch_id="R1", enforce_quality=False)
        run_pipeline(spark, _SCD_V2, wh, run_date="2025-02-01",
                     batch_id="R2", enforce_quality=False)

    _WAREHOUSE[key] = build_once("scd_fixture", build)
    return _WAREHOUSE[key]


@q("pipe_d02_scd_fixture",
   f"""WITH r1 AS (
        SELECT DISTINCT "Product Name" AS product_name,
               CAST(try_cast("Unit Price" AS DOUBLE) AS DECIMAL(10,2)) AS unit_price,
               "Product Category" AS cat, "Product Sub-Category" AS subcat,
               "Product Container" AS cont,
               try_cast("Product Base Margin" AS DOUBLE) AS margin
        FROM read_csv('{_SCD_V1}', header=true, all_varchar=true)),
      r2 AS (
        SELECT DISTINCT "Product Name" AS product_name,
               CAST(try_cast("Unit Price" AS DOUBLE) AS DECIMAL(10,2)) AS unit_price,
               "Product Category" AS cat, "Product Sub-Category" AS subcat,
               "Product Container" AS cont,
               try_cast("Product Base Margin" AS DOUBLE) AS margin
        FROM read_csv('{_SCD_V2}', header=true, all_varchar=true)),
      j AS (
        SELECT r1.product_name, r1.unit_price AS up1, r2.unit_price AS up2,
               (r1.unit_price IS DISTINCT FROM r2.unit_price
                OR r1.cat IS DISTINCT FROM r2.cat
                OR r1.subcat IS DISTINCT FROM r2.subcat
                OR r1.cont IS DISTINCT FROM r2.cont
                OR r1.margin IS DISTINCT FROM r2.margin) AS changed
        FROM r1 JOIN r2 USING (product_name))
      SELECT concat('PROD_', substr(md5(product_name), 1, 14)) AS product_id,
             1 AS version, NOT changed AS is_current,
             '2000-01-01' AS effective_date,
             CASE WHEN changed THEN '2025-01-31' ELSE '9999-12-31' END AS expiry_date,
             up1::DOUBLE AS unit_price
      FROM j
      UNION ALL
      SELECT concat('PROD_', substr(md5(product_name), 1, 14)),
             2, true, '2025-02-01', '9999-12-31', up2::DOUBLE
      FROM j WHERE changed""")
def pipe_scd_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 end-to-end on the reference's own SCD2 test scenario: after two
    runs, changed products carry an expired v1 ([2000-01-01, run2−1 day])
    and a current v2 (effective run2). The oracle re-derives versioning
    from the two raw CSVs (change = any tracked SQL-reproducible attribute
    differs). Reference ``etl_target_loader.py:299-513``."""
    p = spark.read.parquet(
        os.path.join(_scd_fixture(spark), "wh", "tgt", "tgt_dim_product"))
    return p.select(
        "product_id", "version", "is_current",
        F.date_format("effective_date", "yyyy-MM-dd").alias("effective_date"),
        F.date_format("expiry_date", "yyyy-MM-dd").alias("expiry_date"),
        F.col("unit_price").cast("double").alias("unit_price"))


@q("pipe_a08_quality_ratios", pinned("pipe_a08_quality_ratios"))
def pipe_quality_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the four distribution ratio checks (reference
    ``etl_staging_loader.py:1349-1381``). Oracle = pinned sf0.01 golden
    of the four ratio rows: two of the four run
    over synthetic (hash-seeded) facts."""
    from walmart_project_etl_spark.quality import ratio_checks
    stg = {name: _wt(spark, name) for name in (
        "stg_product", "stg_sales", "stg_returns", "stg_inventory")}
    return ratio_checks(stg)
