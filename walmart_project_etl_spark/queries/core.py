"""Relational operator queries (SURVEY §2.1-2.7) over the driver testdata.

Each §2 operator (S=scan/sink, P=projection/filter, J=join, A=aggregate,
W=window, O=sort/limit, U=set op) gets a named query plus a DuckDB oracle.
The TPC-H-ish tables are proxies: the query exercises the *same Spark
expression/operator shape* the ETL plans use, with a closed-form SQL twin.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from walmart_project_etl_spark.operators.dedup import latest_per_key
from walmart_project_etl_spark.operators.interval_join import interval_join
from walmart_project_etl_spark.operators.merge import scd1_merge
from walmart_project_etl_spark.operators.scd2 import scd2_apply

from .util import dsum, pinned, sql_dsum, t

QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn
    return deco


# --------------------------------------------------------------- S: scans/sinks

@q("s02_empty_string_to_null",
   """SELECT count(*) AS n_rows,
             count(nullif(trim(source), '')) AS n_nonblank_source,
             count(nullif(substr(text, 1, 0), '')) AS n_nonblank_empty
      FROM documents""")
def s02_empty_string_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ''→NULL normalization (reference ``etl_ods_loader.py:187-195``)."""
    d = t(spark, sf_dir, "documents")
    blank_to_null = lambda c: F.when(F.trim(c) == "", None).otherwise(F.trim(c))  # noqa: E731
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(blank_to_null(F.col("source"))).alias("n_nonblank_source"),
        F.count(blank_to_null(F.substring("text", 1, 0))).alias("n_nonblank_empty"))


@q("s03_table_scan", "SELECT r_regionkey, r_name FROM region")
def s03_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: warehouse table scan (reference ``etl_staging_loader.py:137-145``)."""
    return t(spark, sf_dir, "region").select("r_regionkey", "r_name")


@q("s04_parquet_sink_roundtrip",
   f"""SELECT count(*) AS n_rows, {sql_dsum('o_totalprice', 'sum_price')}
      FROM orders WHERE o_orderstatus = 'F'""")
def s04_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5: bulk sink — write partition-parallel parquet, read back, verify
    nothing was lost (replaces the reference's 10k/50k-row batched INSERTs,
    ``etl_ods_loader.py:34-76``, ``etl_staging_loader.py:1259-1292``)."""
    path = os.path.join(tempfile.gettempdir(), "wpe_sink_roundtrip")
    t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F") \
        .write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.agg(F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "sum_price"))


@q("s06_ddl_create_insert",
   """SELECT CAST(10 AS INT) AS date_id, CAST('2026-01-05' AS VARCHAR) AS full_date,
             CAST('Monday' AS VARCHAR) AS day_of_week
      UNION ALL SELECT 11, '2026-01-06', 'Tuesday'""")
def s06_ddl_create_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: DDL create + insert path — declared StructType schema, typed empty
    table, append (reference ``etl_ods_tables.py:222-234`` create_all).
    Dates compared as ISO strings (engine-portable)."""
    from pyspark.sql.types import (DateType, IntegerType, StringType,
                                   StructField, StructType)
    schema = StructType([StructField("date_id", IntegerType()),
                         StructField("full_date", DateType()),
                         StructField("day_of_week", StringType())])
    empty = spark.createDataFrame([], schema)
    import datetime
    rows = spark.createDataFrame(
        [(10, datetime.date(2026, 1, 5), "Monday"),
         (11, datetime.date(2026, 1, 6), "Tuesday")], schema)
    return empty.unionByName(rows).withColumn(
        "full_date", F.date_format("full_date", "yyyy-MM-dd"))


@q("s07_truncate",
   "SELECT CAST(0 AS BIGINT) AS n_after_truncate, CAST(2 AS BIGINT) AS n_cols")
def s07_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: TRUNCATE = overwrite-with-empty, schema preserved
    (reference ``dags/walmart_etl_pipeline_dag.py:153-178``)."""
    from walmart_project_etl_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, os.path.join(tempfile.gettempdir(), "wpe_wh_trunc"))
    wh.write("stg", "probe", t(spark, sf_dir, "region"))
    wh.truncate("stg", "probe")
    back = wh.read("stg", "probe")
    return back.agg(F.count(F.lit(1)).alias("n_after_truncate")).select(
        "n_after_truncate", F.lit(len(back.columns)).cast("long").alias("n_cols"))


@q("s08_drop", "SELECT false AS exists_after_drop, true AS existed_before")
def s08_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: DROP TABLE (reference ``drop_all_tables.py:7-50``)."""
    from walmart_project_etl_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, os.path.join(tempfile.gettempdir(), "wpe_wh_drop"))
    wh.write("ods", "probe", t(spark, sf_dir, "region"))
    before = wh.exists("ods", "probe")
    wh.drop("ods", "probe")
    return spark.createDataFrame(
        [(wh.exists("ods", "probe"), before)],
        "exists_after_drop boolean, existed_before boolean")


@q("s09_temp_view",
   """SELECT o_orderpriority, count(*) AS n FROM orders
      WHERE o_totalprice > 200000 GROUP BY o_orderpriority""")
def s09_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: materialized temp view + spark.sql over it (reference
    temp_product_stage materialized once and reused 3×,
    ``etl_target_loader.py:304-317``). The view's frame is a lazy
    ``localCheckpoint``, not ``.cache()``: the query returns a lazy plan
    whose reads all come after it returns, so nothing could release a
    cache entry, and a leaked one would hand every later query in the
    session that reads ``orders`` a warm cache. The checkpoint blocks
    are written on the first read and freed with the frame (see
    ``operators/dedup.py:minhash_dedup``)."""
    orders = t(spark, sf_dir, "orders").localCheckpoint(eager=False)
    orders.createOrReplaceTempView("wpe_tmp_orders")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n FROM wpe_tmp_orders
        WHERE o_totalprice > 200000 GROUP BY o_orderpriority""")


@q("s10_partitioned_scan_pruning",
   f"""SELECT count(*) AS n_rows, {sql_dsum('l_quantity', 'sum_qty')}
      FROM lineitem WHERE year(l_shipdate) = 1997""")
def s10_partitioned_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned fact layout: write the fact partitioned by ship
    year, read back with a partition filter — the scan touches only the
    1997 directory (PartitionFilters, asserted in
    ``tests/test_scale_plans.py``), which is what makes date-ranged BI
    queries sublinear at 100 TB."""
    path = os.path.join(tempfile.gettempdir(), "wpe_part_pruning")
    li = t(spark, sf_dir, "lineitem").select(
        "l_quantity", F.year("l_shipdate").alias("ship_year"))
    li.write.partitionBy("ship_year").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).where(F.col("ship_year") == 1997)
    return back.agg(F.count(F.lit(1)).alias("n_rows"),
                    dsum("l_quantity", "sum_qty"))


@q("j12_bucketed_colocated_join",
   f"""SELECT o_orderpriority, count(*) AS n_items,
             {sql_dsum('l_quantity', 'sum_qty')}
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")
def j12_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketed+sorted on the
    join key, then sort-merge-joined with ZERO exchange and zero sort
    (plan asserted in ``tests/test_scale_plans.py``) — the pre-paid
    shuffle for repeated fact-to-fact joins at 100 TB."""
    from walmart_project_etl_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, os.path.join(tempfile.gettempdir(), "wpe_bucket_demo"))
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    wh.write_bucketed("stg", "li_bucketed", li, "l_orderkey", n_buckets=8)
    wh.write_bucketed("stg", "orders_bucketed", o, "l_orderkey", n_buckets=8)
    j = (wh.read_table("stg", "li_bucketed").hint("merge")
         .join(wh.read_table("stg", "orders_bucketed"), "l_orderkey"))
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 dsum("l_quantity", "sum_qty")))


# ------------------------------------------------- P: projections/filters

@q("p01_projection_rename",
   """SELECT o_orderkey AS order_key, o_orderpriority AS priority,
             o_totalprice AS total_price
      FROM orders WHERE o_orderstatus = 'O'""")
def p01_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column projection + rename (reference ``etl_ods_loader.py:405-408``)."""
    return (t(spark, sf_dir, "orders")
            .where(F.col("o_orderstatus") == "O")
            .select(F.col("o_orderkey").alias("order_key"),
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_totalprice").alias("total_price")))


@q("p02_distinct_nonnull_dates",
   """SELECT DISTINCT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
      FROM orders WHERE o_orderdate IS NOT NULL""")
def p02_distinct_nonnull_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: dropna().unique() on date columns (reference :201-203)."""
    return (t(spark, sf_dir, "orders")
            .select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
            .where(F.col("order_day").isNotNull())
            .distinct())


@q("p03_null_filter",
   """SELECT count(*) AS n_valid FROM lineitem
      WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL""")
def p03_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: skip rows with missing required fields (reference :557-560)."""
    return (t(spark, sf_dir, "lineitem")
            .where(F.col("l_shipdate").isNotNull() & F.col("l_quantity").isNotNull())
            .agg(F.count(F.lit(1)).alias("n_valid")))


@q("p04_date_membership_semi_join",
   """SELECT count(*) AS n_kept, round(sum(CAST(l_quantity AS DECIMAL(28,6))),2)::DOUBLE AS sum_qty
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) IN
            (SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders)""")
def p04_date_membership_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: date-membership filter as a broadcast LEFT SEMI join — the
    reference's ``available_dates`` set probe (``etl_ods_loader.py:533-542``)."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "ship_day", F.col("l_shipdate").cast("date"))
    days = (t(spark, sf_dir, "orders")
            .select(F.col("o_orderdate").cast("date").alias("ship_day")).distinct())
    kept = li.join(F.broadcast(days), "ship_day", "left_semi")
    return kept.agg(F.count(F.lit(1)).alias("n_kept"), dsum("l_quantity", "sum_qty"))


@q("p05_skip_missing_dim_key",
   f"""SELECT count(*) AS n_resolved, {sql_dsum('l_extendedprice', 'sum_price')}
      FROM lineitem JOIN (SELECT p_partkey FROM part WHERE p_size > 40) big
      ON lineitem.l_partkey = big.p_partkey""")
def p05_skip_missing_dim_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: drop fact rows whose dim lookup failed — left join + IS NOT NULL
    (reference ``etl_staging_loader.py:825-831``)."""
    li = t(spark, sf_dir, "lineitem")
    dim = (t(spark, sf_dir, "part").where(F.col("p_size") > 40)
           .select(F.col("p_partkey").alias("l_partkey"),
                   F.lit(True).alias("__dim_ok")))
    joined = li.join(F.broadcast(dim), "l_partkey", "left")
    return (joined.where(F.col("__dim_ok").isNotNull())
            .agg(F.count(F.lit(1)).alias("n_resolved"),
                 dsum("l_extendedprice", "sum_price")))


@q("p06_boolean_flag_filters",
   """SELECT count(*) AS n_high_discount,
             (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R') AS n_returned
      FROM lineitem WHERE l_discount > 0.05""")
def p06_boolean_flag_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: boolean-flag verification filters (reference
    ``etl_staging_loader.py:1352-1381``) — derive flags then filter on them."""
    li = (t(spark, sf_dir, "lineitem")
          .withColumn("is_high_discount", F.col("l_discount") > 0.05)
          .withColumn("is_returned", F.col("l_returnflag") == "R"))
    return (li.agg(
        F.sum(F.when(F.col("is_high_discount"), 1).otherwise(0)).alias("n_high_discount"),
        F.sum(F.when(F.col("is_returned"), 1).otherwise(0)).alias("n_returned")))


@q("p07_rn1_filter",
   f"""SELECT count(*) AS n_latest, {sql_dsum('l_extendedprice', 'sum_price')}
      FROM (SELECT * FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_shipdate DESC, l_linenumber DESC, l_partkey,
                             l_suppkey, l_quantity, l_extendedprice,
                             l_discount, l_tax, l_returnflag, l_linestatus) = 1)""")
def p07_rn1_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/W1: keep latest row per key via ROW_NUMBER()=1 (reference
    ``etl_target_loader.py:118-124``).

    The synthetic lineitem has duplicate (l_orderkey, l_linenumber) pairs,
    so the ordering spans every remaining column — a tie-break that is not
    a total order makes the winner partition-layout-dependent (this bit us:
    the two engines picked different rows among full ties)."""
    li = t(spark, sf_dir, "lineitem")
    latest = latest_per_key(li, ["l_orderkey"],
                            [F.desc("l_shipdate"), F.desc("l_linenumber"),
                             F.asc("l_partkey"), F.asc("l_suppkey"),
                             F.asc("l_quantity"), F.asc("l_extendedprice"),
                             F.asc("l_discount"), F.asc("l_tax"),
                             F.asc("l_returnflag"), F.asc("l_linestatus")])
    return latest.agg(F.count(F.lit(1)).alias("n_latest"),
                      dsum("l_extendedprice", "sum_price"))


# --------------------------------------------------------------- J: joins

@q("j01_left_equi_join",
   """SELECT n_name, r_name FROM nation LEFT JOIN region
      ON nation.n_regionkey = region.r_regionkey""")
def j01_left_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi enrich join (reference ``etl_staging_loader.py:354-361``)."""
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    return n.join(r, "n_regionkey", "left").select("n_name", "r_name")


@q("j02_broadcast_key_map_join",
   f"""SELECT p_brand, count(*) AS n, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
      FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""")
def j02_broadcast_key_map_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the reference's in-memory {key→row} dict probe IS a broadcast hash
    join (``etl_ods_loader.py:482-524``)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    return (li.join(F.broadcast(p), "l_partkey")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")))


@q("j03_anti_join_fk_check",
   """SELECT (SELECT count(*) FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
             AS n_customers_no_orders,
             (SELECT count(*) FROM orders
              WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
             AS n_orphan_orders""")
def j03_anti_join_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: anti-join referential-integrity checks (reference
    ``etl_ods_loader.py:904-982``)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    n1 = c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti") \
          .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    n2 = o.join(c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti") \
          .agg(F.count(F.lit(1)).alias("n_orphan_orders"))
    return n1.crossJoin(n2)


# surrogate keys are md5-hash-derived (keys.hash_surrogate) — reproducible
# in DuckDB as ('0x' || substr(md5(key), 1, 15))::BIGINT
_J04_ORACLE = """
WITH tgt AS (
  SELECT ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT AS customer_sk,
         c_custkey, c_name, c_acctbal AS bal
  FROM customer WHERE c_custkey <= 1000),
src AS (
  SELECT c_custkey, c_name, c_acctbal + 100 AS bal
  FROM customer WHERE c_custkey BETWEEN 500 AND 1500),
matched AS (
  SELECT tgt.customer_sk, tgt.c_custkey, src.c_name, src.bal,
         TIMESTAMP '2026-01-01' AS insertion_date,
         TIMESTAMP '2026-02-01' AS modification_date
  FROM tgt JOIN src USING (c_custkey)),
untouched AS (
  SELECT customer_sk, c_custkey, c_name, bal,
         TIMESTAMP '2026-01-01', TIMESTAMP '2026-01-01'
  FROM tgt ANTI JOIN src USING (c_custkey)),
inserted AS (
  SELECT ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT AS customer_sk,
         c_custkey, c_name, bal, TIMESTAMP '2026-02-01', TIMESTAMP '2026-02-01'
  FROM src ANTI JOIN tgt USING (c_custkey))
SELECT customer_sk, c_custkey, c_name, bal,
       insertion_date, modification_date
FROM (SELECT * FROM matched UNION ALL SELECT * FROM untouched
      UNION ALL SELECT * FROM inserted)
"""


@q("j04_d01_scd1_merge", _J04_ORACLE)
def j04_d01_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/D1: MERGE upsert semantics — initial load then second-run merge
    (update matched, insert new, keep untouched; reference
    ``etl_target_loader.py:86-151``)."""
    cust = t(spark, sf_dir, "customer")
    src1 = (cust.where(F.col("c_custkey") <= 1000)
            .select("c_custkey", "c_name", F.col("c_acctbal").alias("bal")))
    ts1 = F.lit("2026-01-01").cast("timestamp")
    target = scd1_merge(None, src1, "c_custkey", ["c_name", "bal"], "customer_sk", ts1)
    src2 = (cust.where(F.col("c_custkey").between(500, 1500))
            .select("c_custkey", "c_name", (F.col("c_acctbal") + 100).alias("bal")))
    ts2 = F.lit("2026-02-01").cast("timestamp")
    merged = scd1_merge(target, src2, "c_custkey", ["c_name", "bal"], "customer_sk", ts2)
    return merged.select("customer_sk", "c_custkey", "c_name", "bal",
                         "insertion_date", "modification_date")


_J05_ORACLE = """
WITH base AS (SELECT c_custkey, c_name, c_acctbal AS bal, c_mktsegment AS seg
              FROM customer WHERE c_custkey <= 100),
extra AS (SELECT c_custkey, c_name, c_acctbal AS bal, c_mktsegment AS seg
          FROM customer WHERE c_custkey BETWEEN 101 AND 120),
v1 AS (SELECT ('0x' || substr(md5(c_custkey::VARCHAR || chr(31) || '1'), 1, 15))::BIGINT AS dim_sk,
              base.* FROM base),
expired AS (   -- changed keys: version 1 expired at run2 - 1 day
  SELECT dim_sk, c_custkey, c_name, bal, seg,
         '2000-01-01' AS effective_date, '2026-01-31' AS expiry_date,
         false AS is_current, 1 AS version,
         TIMESTAMP '2026-01-02' AS insertion_date, TIMESTAMP '2026-02-01' AS modification_date
  FROM v1 WHERE c_custkey <= 50),
stayed AS (    -- unchanged keys: version 1 still current
  SELECT dim_sk, c_custkey, c_name, bal, seg,
         '2000-01-01', '9999-12-31', true, 1,
         TIMESTAMP '2026-01-02', TIMESTAMP '2026-01-02'
  FROM v1 WHERE c_custkey > 50),
inserts AS (   -- run 2 inserts: changed keys (v2) + brand-new keys (v1)
  SELECT ('0x' || substr(md5(c_custkey::VARCHAR || chr(31)
             || CASE WHEN c_custkey <= 50 THEN '2' ELSE '1' END), 1, 15))::BIGINT AS dim_sk,
         c_custkey, c_name,
         CASE WHEN c_custkey <= 50 THEN bal + 50 ELSE bal END AS bal, seg,
         CASE WHEN c_custkey <= 50 THEN '2026-02-01' ELSE '2000-01-01' END,
         '9999-12-31', true,
         CASE WHEN c_custkey <= 50 THEN 2 ELSE 1 END,
         TIMESTAMP '2026-02-01', TIMESTAMP '2026-02-01'
  FROM (SELECT * FROM base WHERE c_custkey <= 50 UNION ALL SELECT * FROM extra))
SELECT dim_sk, c_custkey, c_name, bal, seg, effective_date,
       expiry_date, is_current, version, insertion_date, modification_date
FROM (SELECT * FROM expired UNION ALL SELECT * FROM stayed UNION ALL SELECT * FROM inserts)
"""


@q("j05_j06_j07_d02_scd2_two_run", _J05_ORACLE)
def j05_scd2_two_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J6/J7/D2/D4: full SCD2 pipeline across two runs — change-detection
    join, grouped-max version join, expired-set classification, expiry
    rewrite (reference ``etl_target_loader.py:299-479``)."""
    cust = t(spark, sf_dir, "customer")
    tracked = ["c_name", "bal", "seg"]
    src1 = (cust.where(F.col("c_custkey") <= 100)
            .select("c_custkey", "c_name", F.col("c_acctbal").alias("bal"),
                    F.col("c_mktsegment").alias("seg")))
    dim1 = scd2_apply(None, src1, "c_custkey", tracked, "dim_sk",
                      "2026-01-02", F.lit("2026-01-02").cast("timestamp"))
    src2 = (cust.where(F.col("c_custkey") <= 120)
            .select("c_custkey", "c_name",
                    F.when(F.col("c_custkey") <= 50, F.col("c_acctbal") + 50)
                     .otherwise(F.col("c_acctbal")).alias("bal"),
                    F.col("c_mktsegment").alias("seg")))
    dim2 = scd2_apply(dim1, src2, "c_custkey", tracked, "dim_sk",
                      "2026-02-01", F.lit("2026-02-01").cast("timestamp"))
    return (dim2
            .withColumn("effective_date", F.date_format("effective_date", "yyyy-MM-dd"))
            .withColumn("expiry_date", F.date_format("expiry_date", "yyyy-MM-dd")))


@q("j06_grouped_max_lookup_join",
   """SELECT o_custkey, o_orderkey AS max_price_orderkey, o_totalprice AS max_price
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) = 1""")
def j06_grouped_max_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: grouped-max lookup join — per key, the row holding MAX(value)
    (reference ``etl_target_loader.py:376-383``)."""
    o = t(spark, sf_dir, "orders")
    mx = o.groupBy("o_custkey").agg(F.max("o_totalprice").alias("max_price"))
    # join back, pin ties to lowest orderkey
    cand = o.join(mx, (o.o_custkey == mx.o_custkey)
                  & (o.o_totalprice == mx.max_price)).drop(mx.o_custkey)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (cand.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
            .select("o_custkey", F.col("o_orderkey").alias("max_price_orderkey"),
                    F.col("max_price")))


@q("j08_multiway_fact_join",
   f"""SELECT r_name, o_orderpriority, count(*) AS n,
              {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY r_name, o_orderpriority""")
def j08_multiway_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: multi-way fact-load join, 7 tables (reference
    ``etl_target_loader.py:711-759``) — small dims broadcast, fact streams."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    df = (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey))
    return (df.groupBy("r_name", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")))


@q("j09_interval_join_scd2",
   f"""WITH dim AS (
        SELECT s_suppkey AS l_suppkey, s_name, 'v1' AS version_label,
               DATE '1900-01-01' AS eff, DATE '1997-12-31' AS exp FROM supplier
        UNION ALL
        SELECT s_suppkey, s_name, 'v2', DATE '1998-01-01', DATE '9999-12-31' FROM supplier)
      SELECT version_label, count(*) AS n, {sql_dsum('l_quantity', 'sum_qty')}
      FROM lineitem JOIN dim
        ON lineitem.l_suppkey = dim.l_suppkey
       AND CAST(l_shipdate AS DATE) BETWEEN dim.eff AND dim.exp
      GROUP BY version_label""")
def j09_interval_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: SCD2 temporal key resolution — equi join on the natural key with
    the validity range as residual filter (reference
    ``etl_target_loader.py:750-758``)."""
    s = t(spark, sf_dir, "supplier")
    v1 = s.select(F.col("s_suppkey").alias("l_suppkey"), "s_name",
                  F.lit("v1").alias("version_label"),
                  F.lit("1900-01-01").cast("date").alias("eff"),
                  F.lit("1997-12-31").cast("date").alias("exp"))
    v2 = s.select(F.col("s_suppkey").alias("l_suppkey"), "s_name",
                  F.lit("v2").alias("version_label"),
                  F.lit("1998-01-01").cast("date").alias("eff"),
                  F.lit("9999-12-31").cast("date").alias("exp"))
    dim = v1.unionByName(v2)
    fact = t(spark, sf_dir, "lineitem").withColumn(
        "ship_day", F.col("l_shipdate").cast("date"))
    joined = interval_join(fact, dim, "l_suppkey", "ship_day", "eff", "exp")
    return (joined.groupBy("version_label")
            .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")))


@q("j10_optional_dim_left_join",
   """SELECT count(*) AS n_rows, count(s_name) AS n_matched,
             count(*) - count(s_name) AS n_unmatched
      FROM lineitem LEFT JOIN (SELECT s_suppkey, s_name FROM supplier
                               WHERE s_acctbal > 5000) rich
      ON lineitem.l_suppkey = rich.s_suppkey""")
def j10_optional_dim_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: optional-dimension left join, NULLs preserved (reference
    ``etl_target_loader.py:738-741``)."""
    li = t(spark, sf_dir, "lineitem")
    rich = (t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 5000)
            .select(F.col("s_suppkey").alias("l_suppkey"), "s_name"))
    j = li.join(F.broadcast(rich), "l_suppkey", "left")
    return j.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count("s_name").alias("n_matched"),
                 (F.count(F.lit(1)) - F.count("s_name")).alias("n_unmatched"))


# --------------------------------------------------------------- A: aggregations

@q("a01_groupby_mode",
   """SELECT c_mktsegment, o_orderpriority AS mode_priority, n
      FROM (SELECT c_mktsegment, o_orderpriority, count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority)
      QUALIFY row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY n DESC, o_orderpriority) = 1""")
def a01_groupby_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by mode with pinned tie-break (reference customer
    most-common-location, ``etl_ods_loader.py:262-270``)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("o_custkey"),
                                            "c_mktsegment")
    counts = (o.join(F.broadcast(c), "o_custkey")
              .groupBy("c_mktsegment", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("c_mktsegment", F.col("o_orderpriority").alias("mode_priority"), "n"))


@q("a02_groupby_first",
   """SELECT first_priority, count(*) AS n_customers FROM (
        SELECT o_orderpriority AS first_priority FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) = 1)
      GROUP BY first_priority""")
def a02_groupby_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: group-by first with pinned order (reference first age/segment per
    customer, ``etl_ods_loader.py:268-269``)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    firsts = (o.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
              .select(F.col("o_orderpriority").alias("first_priority")))
    return firsts.groupBy("first_priority").agg(F.count(F.lit(1)).alias("n_customers"))


@q("a03_distinct_count_per_group",
   """SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments,
             count(*) AS n_customers
      FROM customer GROUP BY c_nationkey""")
def a03_distinct_count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: COUNT(DISTINCT) per group (reference multi-city customers,
    ``etl_ods_loader.py:300-303``)."""
    return (t(spark, sf_dir, "customer")
            .groupBy("c_nationkey")
            .agg(F.countDistinct("c_mktsegment").alias("n_segments"),
                 F.count(F.lit(1)).alias("n_customers")))


@q("a04_count_star_tables",
   """SELECT 'customer' AS tbl, count(*) AS n FROM customer
      UNION ALL SELECT 'orders', count(*) FROM orders
      UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      UNION ALL SELECT 'part', count(*) FROM part""")
def a04_count_star_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: COUNT(*) table stats (reference ``etl_ods_loader.py:894-899``)."""
    parts = []
    for name in ("customer", "orders", "lineitem", "part"):
        parts.append(t(spark, sf_dir, name).agg(
            F.lit(name).alias("tbl"), F.count(F.lit(1)).alias("n")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q("a05_count_distinct",
   """SELECT count(DISTINCT l_suppkey) AS n_suppliers,
             count(DISTINCT CAST(l_shipdate AS DATE)) AS n_ship_days
      FROM lineitem""")
def a05_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: global COUNT(DISTINCT) (reference ``etl_ods_loader.py:995-999``)."""
    return (t(spark, sf_dir, "lineitem")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.countDistinct(F.col("l_shipdate").cast("date")).alias("n_ship_days")))


@q("a06_max_per_group",
   """SELECT o_custkey, max(o_totalprice) AS max_price FROM orders GROUP BY o_custkey""")
def a06_max_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: MAX per group (reference SELECT k, MAX(version),
    ``etl_target_loader.py:376-383``)."""
    return (t(spark, sf_dir, "orders").groupBy("o_custkey")
            .agg(F.max("o_totalprice").alias("max_price")))


@q("a07_minmax_month_span",
   """SELECT l_returnflag,
             (year(max(l_shipdate))*12 + month(max(l_shipdate)))
           - (year(min(l_shipdate))*12 + month(min(l_shipdate))) AS months_span
      FROM lineitem GROUP BY l_returnflag""")
def a07_minmax_month_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: MIN/MAX + month-difference aggregate (reference
    ``etl_ods_loader.py:1006-1014``). Month arithmetic is done on integer
    year*12+month so Spark and the oracle agree exactly."""
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag").agg(
        ((F.year(F.max("l_shipdate")) * 12 + F.month(F.max("l_shipdate")))
         - (F.year(F.min("l_shipdate")) * 12 + F.month(F.min("l_shipdate"))))
        .alias("months_span")))


@q("a08_conditional_ratio",
   """SELECT l_linestatus,
             round(100.0 * sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                   / count(*), 2) AS pct_high_discount,
             round(100.0 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   / count(*), 2) AS pct_returned
      FROM lineitem GROUP BY l_linestatus""")
def a08_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: conditional-count ratios (reference high-margin %, profitable %,
    ``etl_staging_loader.py:1349-1381``)."""
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_linestatus").agg(
        F.round(100.0 * F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
                / F.count(F.lit(1)), 2).alias("pct_high_discount"),
        F.round(100.0 * F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                / F.count(F.lit(1)), 2).alias("pct_returned")))


@q("a09_distinct_rows",
   "SELECT DISTINCT p_brand, p_type FROM part")
def a09_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distinct set semantics (reference ``etl_ods_loader.py:314-316``)."""
    return t(spark, sf_dir, "part").select("p_brand", "p_type").distinct()


# ------------------------------------------------ W/O/U: window, sort, set ops

@q("w01_window_dedup_latest",
   """SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_price
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""")
def w01_window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ROW_NUMBER dedup-latest before MERGE (reference
    ``etl_target_loader.py:118-124``)."""
    o = t(spark, sf_dir, "orders")
    latest = latest_per_key(o, ["o_custkey"],
                            [F.desc("o_orderdate"), F.desc("o_orderkey")])
    return latest.select("o_custkey", F.col("o_orderkey").alias("latest_orderkey"),
                         F.col("o_totalprice").alias("latest_price"))


@q("w02_moving_average",
   """SELECT o_custkey, o_orderkey,
             round(CAST((sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w)::DOUBLE
                        / (count(*) OVER w) AS DECIMAL(28,8)), 2)::DOUBLE
               AS mavg_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""")
def w02_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: frame-based running aggregate — 5-order moving average of order
    value per customer, totally ordered by (date, key) so the frame is
    engine-independent. One shuffle on the partition key; the frame sum is
    decimal-routed so partials merge exactly."""
    o = t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-4, 0))
    mavg = (F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w)
             .cast("double") / F.count(F.lit(1)).over(w))
    return o.select("o_custkey", "o_orderkey",
                    F.round(mavg.cast("decimal(28,8)"), 2).cast("double")
                     .alias("mavg_price"))


@q("w03_rank_family",
   """SELECT o_custkey, o_orderkey,
             ntile(4) OVER w AS price_quartile,
             dense_rank() OVER w AS price_dense_rank,
             percent_rank() OVER w AS price_pct_rank,
             cume_dist() OVER w AS price_cume_dist
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)""")
def w03_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: ranking-function family over one window pass — ntile quartiles,
    dense_rank, percent_rank, cume_dist per customer. Order is totalized
    with the order key so ntile bucket boundaries are engine-independent;
    percent_rank/cume_dist are small-integer ratios, so one IEEE division
    gives identical doubles on any engine. All four ride ONE shuffle and
    one sort on the same window spec."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"))


@q("o01_orderby_limit_topk",
   """SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")
def o01_orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: ORDER BY + LIMIT top-k → TakeOrderedAndProject, no full sort
    (reference latest-5000-sales, ``etl_ods_loader.py:679-686``)."""
    return (t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_totalprice").limit(100))


@q("o02_full_sort",
   "SELECT n_nationkey, n_name FROM nation ORDER BY n_name")
def o02_full_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: full sort (reference ``etl_staging_loader.py:143``)."""
    return t(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


@q("o03_recent_slice",
   """SELECT DISTINCT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
      FROM orders ORDER BY order_day DESC LIMIT 30""")
def o03_recent_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: most-recent-N slice of sorted distinct dates (reference
    ``etl_ods_loader.py:785-789``)."""
    return (t(spark, sf_dir, "orders")
            .select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
            .distinct().orderBy(F.desc("order_day")).limit(30))


@q("u01_union_distinct",
   """SELECT d AS day FROM (
        SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d FROM orders
        UNION SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem)""")
def u01_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union + distinct of two date sets (reference
    ``etl_ods_loader.py:199-203``)."""
    a = t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
    b = t(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"))
    return a.union(b).distinct()


@q("d03_fact_append_idempotent",
   f"""SELECT count(*) AS n_after_rerun, count(*) AS n_single_batch
      FROM orders WHERE o_orderstatus = 'P'""")
def d03_fact_append_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: fact append made idempotent — re-loading the same batch id
    replaces that batch's rows instead of duplicating them (improves on the
    reference's acknowledged duplicate-on-rerun,
    ``etl_target_loader.py:1023-1030``). Both columns equal ⇒ the rerun did
    not double the fact. All storage goes through ``Warehouse`` (append +
    read + in-place ``replace``) — the same seam a Delta/Iceberg writer
    would plug into."""
    from walmart_project_etl_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, os.path.join(tempfile.gettempdir(), "wpe_d03"))
    wh.drop("tgt", "fact")
    batch = (t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
             .withColumn("etl_batch_id", F.lit("B1")))
    wh.append("tgt", "fact", batch)                             # load 1
    existing = wh.read("tgt", "fact").where("etl_batch_id <> 'B1'")
    merged = existing.unionByName(batch)                        # re-run, same batch
    wh.replace("tgt", "fact", merged)
    after = wh.read("tgt", "fact")
    return (after.agg(F.count(F.lit(1)).alias("n_after_rerun"))
            .crossJoin(after.where("etl_batch_id = 'B1'")
                       .agg(F.count(F.lit(1)).alias("n_single_batch"))))


_TXN_UPDATES_SQL = """(
    SELECT o_orderkey, o_custkey, o_orderkey * 0.5 AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 50 = 3
    UNION ALL SELECT 7777777, 1, 2.5, 'N')"""


def _txn_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    upd = o.where(F.col("o_orderkey") % 50 == 3) \
           .withColumn("o_totalprice", F.col("o_orderkey") * 0.5)
    new = spark.createDataFrame([(7777777, 1, 2.5, "N")], o.schema)
    return o, upd.unionByName(new)


@q("txn_merge_fileprune",
   f"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                            o_orderstatus FROM orders),
      u AS (SELECT * FROM {_TXN_UPDATES_SQL} updates)
      SELECT * FROM base ANTI JOIN u USING (o_orderkey)
      UNION ALL SELECT * FROM u""")
def txn_merge_fileprune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE on the log-table format (sources/txlog.py):
    orders lands as a multi-file range-partitioned table (one ACID
    commit), then an upsert batch merges via COPY-ON-WRITE with
    FILE-LEVEL pruning — only files whose [kmin, kmax] stats can contain
    an update key are rewritten; the rest survive the commit untouched
    (asserted in tests/test_txlog.py). This is the 100 TB answer to the
    reference's ``MERGE INTO`` (``etl_target_loader.py:86-151``) that the
    whole-table ``Warehouse.replace`` emulation cannot give: a narrow
    update batch costs O(touched files), not O(dimension)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o, updates = _txn_updates(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_merge")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    tt.merge_upsert(updates)
    return tt.snapshot()


@q("txn_time_travel",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders""")
def txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel on the log table: AFTER a
    mutating MERGE commit, reading version 0 still returns exactly the
    original rows — the log pins each version's live file set and data
    files are immutable, so historical reads cost nothing extra."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o, updates = _txn_updates(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_tt")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    tt.merge_upsert(updates)
    return tt.snapshot(0)


@q("txn_point_lookup",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderkey BETWEEN 1000 AND 1400""")
def txn_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-RANGE read on the log table (``read_keys``): the narrow band
    touches only the files whose [kmin, kmax] intersect it — O(1) files
    on a range-partitioned table regardless of table size — with the
    exact predicate as residual filter (file counts pinned in
    tests/test_txlog.py::test_read_keys_skips_files)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_point")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    return tt.read_keys(1000, 1400)


@q("txn_keyset_lookup",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 1000 = 1""")
def txn_keyset_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scattered KEY-SET read on the log table (``read_matching``): keys
    spread across the whole key space defeat range pruning, so the
    per-file blooms decide which files can hold any requested key; the
    exact set applies as a semi-join. The batched point-lookup shape a
    serving layer runs against a 100 TB dimension."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_keyset")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    keys = o.where(F.col("o_orderkey") % 1000 == 1).select("o_orderkey")
    return tt.read_matching(keys)


@q("txn_stats_multicol_prune",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_custkey >= 1200""")
def txn_stats_multicol_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN data skipping on the log table (``stats_cols``): the
    table declares per-file [min, max] stats on BOTH the BI date and the
    customer key (beyond the merge key), ingest arrives custkey-banded,
    and a band read on the SECOND declared column scans only the
    matching batches' files — the per-column min/max discipline of
    Delta/Iceberg, file-count-pinned in
    tests/test_txlog.py::test_stats_cols_list_prunes_on_second_column."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderdate")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_multicol")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_custkey") < 1200), "o_orderkey", n_files=4,
              stats_cols=["o_orderdate", "o_custkey"])
    tt.append(o.where(F.col("o_custkey") >= 1200))
    return tt.read_stats_range(lo=1200, col="o_custkey")


@q("txn_zorder_multicol_prune",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
        AND o_custkey >= 1200""")
def txn_zorder_multicol_prune(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER then multi-dimensional pruned read: the table is
    created clustered on the merge KEY (so neither the date nor the
    custkey stats can prune anything), rewritten on the Z-order value of
    [o_orderdate, o_custkey] in one commit, and a date-band read then
    scans only the matching Z-cells' files with the custkey predicate as
    residual — Delta's ``OPTIMIZE ... ZORDER BY`` read pattern
    (file counts pinned in
    tests/test_txlog.py::test_optimize_zorder_multidim_prune)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderdate")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_zorder")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=16,
              stats_cols=["o_orderdate", "o_custkey"])
    tt.optimize_zorder(["o_orderdate", "o_custkey"], n_files=16)
    band = tt.read_stats_range("1996-01-01 00:00:00",
                               "1996-12-31 23:59:59")
    return band.where(F.col("o_custkey") >= 1200)


@q("txn_partition_prune",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderstatus = 'F'""")
def txn_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE/DELTA-STYLE PARTITION PRUNING on the log table: the table is
    created with ``partition_by=o_orderstatus``, every data file is
    partition-pure with its value recorded in the add action, and a
    one-partition read (``read_partitions``) skips every other
    partition's files on the log alone — no stats comparison, no file
    opens. The first-order file-skipping tier at 100 TB, ahead of the
    range/bloom stats (file counts pinned in
    tests/test_txlog.py::test_read_partitions_prunes_files)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_part")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, partition_by="o_orderstatus")
    return tt.read_partitions(["F"])


@q("txn_replace_where",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice * 2, o_orderstatus
      FROM orders WHERE o_orderstatus = 'F'""")
def txn_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic PARTITION OVERWRITE (Delta's ``replaceWhere``): the 'F'
    partition is replaced wholesale — doubled prices — in ONE commit
    that removes the old partition's files and adds the new rows;
    every other partition's files survive untouched, writes straying
    outside the claimed partition are rejected pre-commit, and time
    travel keeps the old partition (the idempotent daily-backfill
    primitive; atomicity + stray rejection pinned in
    tests/test_txlog.py::test_replace_where_atomic_overwrite)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_rw")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, partition_by="o_orderstatus")
    new_f = o.where(F.col("o_orderstatus") == "F") \
             .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    tt.replace_where("F", new_f)
    return tt.snapshot()


@q("txn_read_where_composed",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderstatus = 'F'
        AND o_orderkey <= 7500
        AND o_custkey >= 600""")
def txn_read_where_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED pruned read (``read_where``): one reader entry point
    stacking partition pruning (log-only pval), merge-key range stats,
    and declared-column stats — the tiers compose multiplicatively the
    way a Delta reader folds a WHERE clause into file skipping
    (tier-by-tier file counts pinned in
    tests/test_txlog.py::test_read_where_composes_all_pruning_tiers)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_readwhere")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8,
              partition_by="o_orderstatus", stats_cols=["o_custkey"])
    return tt.read_where(partitions=["F"], key_hi=7500,
                         stats={"o_custkey": (600, None)})


@q("txn_delete_dv",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderkey % 7 <> 0 OR o_orderkey % 2 <> 1""")
def txn_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE via DELETION VECTORS (Delta DVs / Iceberg
    delete files): the scattered DELETE writes one tiny (file, key)
    delete-vector parquet and ONE commit — zero data files rewritten
    (pinned in tests/test_txlog.py) — and every read hides the rows via
    a broadcast anti-join until maintenance (merge/compact/zorder/
    purge_deletes) materializes them. The write-amplification fix that
    made DVs the modern lakehouse default: a scattered DELETE on a
    100 TB table costs kilobytes, not thousands of file rewrites."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_dv")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    doomed = o.where((F.col("o_orderkey") % 7 == 0)
                     & (F.col("o_orderkey") % 2 == 1)) \
              .select("o_orderkey")
    tt.delete_keys_dv(doomed)
    return tt.snapshot()


@q("txn_partition_prune_multicol",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0""")
def txn_partition_prune_multicol(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """COMPOSITE partition pruning: the table is partitioned by TWO
    columns (status, parity bucket) — the date+tenant layout every
    100 TB warehouse runs — files are pure per value TUPLE, and a
    one-tuple read skips every other combination on the log alone
    (tuple file counts pinned in
    tests/test_txlog.py::test_multi_column_partitioning)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderstatus",
                (F.col("o_orderkey") % 2).cast("int").alias("bucket"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_mpart")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8,
              partition_by=["o_orderstatus", "bucket"])
    return tt.read_partitions([("F", 0)]).drop("bucket")


@q("txn_auto_maintenance",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 6 <> 3""")
def txn_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-OPTIMIZE policy loop (sources/maintenance.py): a churned
    table (fragmenting appends + a deletion-vector delete + drifted
    stats clustering) gets its maintenance DECIDED from the commit log
    alone — purge → compact → zorder, each O(affected files) — and
    executed with zero row changes. The managed-lakehouse maintenance
    story (Delta auto compaction / predictive optimization); policy
    decisions are pinned in tests/test_txlog.py, and the oracle proves
    row preservation exactly."""
    import shutil

    from walmart_project_etl_spark.sources.maintenance import \
        run_maintenance
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_maint")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 3 == 0), "o_orderkey",
              n_files=2, stats_cols=["o_custkey"])
    tt.append(o.where(F.col("o_orderkey") % 3 == 1))
    tt.append(o.where(F.col("o_orderkey") % 3 == 2))
    tt.delete_keys_dv(o.where(F.col("o_orderkey") % 6 == 3)
                      .select("o_orderkey"))
    run_maintenance(tt, target_rows=100_000)
    return tt.snapshot()


@q("txn_agg_mv",
   """WITH final AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT md5(o_orderstatus) AS mv_key, o_orderstatus,
             count(*) AS n_rows,
             round(sum(CAST(price AS DECIMAL(28,6))), 2)::DOUBLE AS total
      FROM final GROUP BY o_orderstatus""")
def txn_agg_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained MATERIALIZED AGGREGATE VIEW
    (operators/matview.py): a grouped count/decimal-sum over the tx
    table, refreshed THREE times from the source's change feed — after
    the create, after an append+conditional-price merge, after a keyed
    delete — never re-aggregating the source. Each refresh reads only
    the CHANGES, folds the self-inverting (count, sum) delta into the
    MV's touched groups via one conditional merge (groups folding to
    zero drop out), and marks the source watermark with a txn entry
    (exactly-once, replay = logged no-op). The oracle recomputes the
    final aggregate from scratch — exact, proving the three
    incremental folds equal the full re-aggregation."""
    import shutil

    from walmart_project_etl_spark.operators.matview import refresh_agg_mv
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_mv")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_mv", ignore_errors=True)
    src = TxTable(spark, root)
    src.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
               n_files=4, change_feed=True)
    refresh_agg_mv(spark, src, root + "_mv", ["o_orderstatus"],
                   "o_totalprice")
    src.append(o.where(F.col("o_orderkey") % 2 == 1))
    src.merge_upsert(o.where(F.col("o_orderkey") % 30 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 3))
    refresh_agg_mv(spark, src, root + "_mv", ["o_orderstatus"],
                   "o_totalprice")
    src.delete_keys(o.where(F.col("o_orderkey") % 7 == 0)
                    .select("o_orderkey"))
    mv = refresh_agg_mv(spark, src, root + "_mv", ["o_orderstatus"],
                        "o_totalprice")
    return mv.snapshot().select(
        "mv_key", "o_orderstatus", "n_rows",
        F.round(F.col("total"), 2).cast("double").alias("total"))


@q("txn_merge_schema",
   """SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 100 = 0 THEN NULL
                  WHEN o_orderkey % 2 = 1 THEN 'b2' END AS batch,
             CASE WHEN o_orderkey % 100 = 0 THEN 5 END AS q
      FROM orders""")
def txn_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``mergeSchema`` write option: an append whose source
    carries a NEW column extends the declared schema ATOMICALLY in the
    same commit as the data (old files surface it as NULL), and a
    merge adds another while filling its own missing columns as NULLs
    — the drifting-upstream ingest case a 100 TB pipeline hits weekly,
    handled without a separate evolve commit or any data rewrite.
    Pinned in tests/test_txlog.py::test_merge_schema_write_option."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_msch")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4)
    tt.append(o.where(F.col("o_orderkey") % 2 == 1)
              .withColumn("batch", F.lit("b2")), merge_schema=True)
    tt.merge_upsert(o.where(F.col("o_orderkey") % 100 == 0)
                    .withColumn("o_totalprice",
                                F.col("o_totalprice") * 2)
                    .withColumn("q", F.lit(5)), merge_schema=True)
    return tt.snapshot()


@q("txn_update_where",
   """SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderstatus = 'F' AND o_custkey % 10 = 3
                  THEN o_totalprice * 1.1 ELSE o_totalprice
             END AS o_totalprice,
             o_orderstatus
      FROM orders""")
def txn_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate ``UPDATE ... SET ... WHERE`` (Delta's two-phase DML):
    the partition hint prunes candidate files on the log alone, ONE
    candidate scan finds the files actually holding a match, and only
    those rewrite — a targeted price adjustment on a 100 TB partitioned
    table costs O(one partition's matching files), not a table rewrite.
    Pruning/migration/constraint semantics pinned in
    tests/test_txlog.py::test_update_where_two_phase_and_partition_migration."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_updw")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, partition_by="o_orderstatus")
    tt.update_where({"o_totalprice": "o_totalprice * 1.1"},
                    "o_custkey % 10 = 3", partitions=["F"])
    return tt.snapshot()


@q("txn_delete_where",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE NOT (o_custkey BETWEEN 100 AND 500
                 AND o_orderkey % 3 = 0)""")
def txn_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate ``DELETE WHERE`` through the same two-phase DML core:
    the declared-stats hint bounds the candidate scan to the custkey
    band's files, only match-holding files rewrite, everything else
    survives by path. Completes the format's DML triad
    (MERGE / UPDATE / DELETE) — exactness pinned in
    tests/test_txlog.py::test_delete_where_pruned_and_exact."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_delw")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, stats_cols=["o_custkey"])
    tt.delete_where("o_custkey BETWEEN 100 AND 500 "
                    "AND o_orderkey % 3 = 0",
                    stats={"o_custkey": (100, 500)})
    return tt.snapshot()


@q("txn_agg_mv_minmax",
   """WITH final AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT md5(o_orderstatus) AS mv_key, o_orderstatus,
             count(*) AS n_rows,
             round(min(CAST(price AS DECIMAL(28,6))), 2)::DOUBLE AS vmin,
             round(max(CAST(price AS DECIMAL(28,6))), 2)::DOUBLE AS vmax
      FROM final GROUP BY o_orderstatus""")
def txn_agg_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained (count, MIN, MAX) MATERIALIZED VIEW
    (operators/matview.py refresh_agg_mv_minmax): the standard IVM
    treatment of non-self-inverting aggregates. Inserts fold
    incrementally (``least``/``greatest`` against the stored extreme);
    a delete or update pre-image that ties a group's would-be extreme
    recomputes ONLY that group, through the most-pruned read the
    source's layout offers (here: partition pruning on the group
    column — the source is partitioned by o_orderstatus, so the
    fallback touches one partition's files, pinned in
    tests/test_txlog_cdf.py::test_minmax_mv_incremental_and_ivm_fallback).
    Same refresh loop as txn_agg_mv: three refreshes across
    append + conditional merge + keyed delete, exactly-once txn
    markers, zero-count groups dropped. The oracle recomputes the
    final (count, min, max) from scratch — exact."""
    import shutil

    from walmart_project_etl_spark.operators.matview import \
        refresh_agg_mv_minmax
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_mvmm")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_mv", ignore_errors=True)
    src = TxTable(spark, root)
    src.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
               n_files=4, change_feed=True,
               partition_by="o_orderstatus")
    refresh_agg_mv_minmax(spark, src, root + "_mv", ["o_orderstatus"],
                          "o_totalprice")
    src.append(o.where(F.col("o_orderkey") % 2 == 1))
    src.merge_upsert(o.where(F.col("o_orderkey") % 30 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 3))
    refresh_agg_mv_minmax(spark, src, root + "_mv", ["o_orderstatus"],
                          "o_totalprice")
    src.delete_keys(o.where(F.col("o_orderkey") % 7 == 0)
                    .select("o_orderkey"))
    mv = refresh_agg_mv_minmax(spark, src, root + "_mv",
                               ["o_orderstatus"], "o_totalprice")
    return mv.snapshot().select(
        "mv_key", "o_orderstatus", "n_rows",
        F.round(F.col("vmin"), 2).cast("double").alias("vmin"),
        F.round(F.col("vmax"), 2).cast("double").alias("vmax"))


@q("txn_agg_pushdown",
   """WITH final AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT count(*) AS n_rows,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             CAST(min(odate) AS VARCHAR) AS min_date,
             CAST(max(odate) AS VARCHAR) AS max_date
      FROM final""")
def txn_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY AGGREGATE (sources/txlog.py:agg_pushdown —
    Delta/Iceberg's metadata-only query optimization): COUNT(*) and
    MIN/MAX of the key and of a declared stats column answered from
    the transaction log's per-file stats with ZERO data read on
    DV-free files — O(live files) at any table size; the fixture's
    DV-delete makes exactly the DV'd files fall back to a pruned read
    (hybrid counts pinned in tests/test_txlog.py::
    test_agg_pushdown_metadata_only_and_dv_hybrid). The oracle
    recomputes all five aggregates from the surviving rows — exact."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_aggpd")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4, stats_cols=["odate"])
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))
    tt.delete_keys_dv(o.where(F.col("o_orderkey") % 11 == 0)
                      .select("o_orderkey"))
    rk = tt.agg_pushdown("o_orderkey")
    rd = tt.agg_pushdown("odate")
    return spark.createDataFrame(
        [(rk["n_rows"], rk["min"], rk["max"], rd["min"], rd["max"])],
        "n_rows long, min_key long, max_key long, "
        "min_date string, max_date string")


@q("txn_agg_mv_avg_distinct", pinned("txn_agg_mv_avg_distinct"))
def txn_agg_mv_avg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained (count, AVG, approx COUNT(DISTINCT))
    MATERIALIZED VIEW (operators/matview.py
    refresh_agg_mv_avg_distinct) — the MV family's final two common BI
    aggregates. AVG is derived at read time from the exact
    self-inverting (count, decimal sum) state; the distinct state is a
    per-group HLL sketch maintained incrementally on inserts (lossless
    sketch union) with the min/max-style IVM fallback — a removal
    carrying a non-NULL distinct value recomputes only its group's
    sketch through the partition-pruned read (pinned in
    tests/test_txlog_cdf.py::test_avgdist_mv_incremental_and_sketch_fallback).
    Same refresh loop as txn_agg_mv: three refreshes across
    append + custkey-rewriting merge + keyed delete, exactly-once txn
    markers. The oracle is a PINNED GOLDEN (docs/COVERAGE.md): the HLL
    estimate is engine-internal, so the full finalized row set —
    including the exact n_rows/total/avg columns — is value-hashed
    against the pin."""
    import shutil

    from walmart_project_etl_spark.operators.matview import (
        finalize_avg_distinct, refresh_agg_mv_avg_distinct)
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_mvad")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_mv", ignore_errors=True)
    src = TxTable(spark, root)
    src.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
               n_files=4, change_feed=True,
               partition_by="o_orderstatus")

    def refresh():
        return refresh_agg_mv_avg_distinct(
            spark, src, root + "_mv", ["o_orderstatus"],
            "o_totalprice", "o_custkey")

    refresh()
    src.append(o.where(F.col("o_orderkey") % 2 == 1))
    # the merge rewrites o_custkey for its keys — update pre-images
    # remove distinct values, exercising the sketch-recompute fallback
    src.merge_upsert(o.where(F.col("o_orderkey") % 30 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 3)
                     .withColumn("o_custkey",
                                 F.col("o_custkey") + 10**7))
    refresh()
    src.delete_keys(o.where(F.col("o_orderkey") % 7 == 0)
                    .select("o_orderkey"))
    mv = refresh()
    return finalize_avg_distinct(mv.snapshot(), ["o_orderstatus"])


@q("txn_merge_when",
   """WITH src AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice * 0.5 END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 500 = 3)
      SELECT t.o_orderkey, t.o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND s.o_totalprice > t.o_totalprice
                  THEN s.o_totalprice ELSE t.o_totalprice
             END AS o_totalprice,
             t.o_orderstatus
      FROM orders t LEFT JOIN src s USING (o_orderkey)
      WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_orderkey % 50 = 10)
      UNION ALL
      SELECT s.o_orderkey, s.o_custkey, s.o_totalprice, s.o_orderstatus
      FROM src s ANTI JOIN orders t USING (o_orderkey)
      WHERE s.o_custkey % 2 = 0""")
def txn_merge_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL MERGE (Delta's WHEN MATCHED AND ... THEN
    UPDATE/DELETE, WHEN NOT MATCHED AND ... THEN INSERT): updates only
    when the source price is higher (the late-data guard shape),
    deletes a keyed slice, inserts only even-custkey new rows — one
    file-pruned commit, clause precedence delete > update > keep. The
    oracle replays the identical clause logic in SQL — exact."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_when")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    src = (o.where(F.col("o_orderkey") % 10 == 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 20 == 0,
                              F.col("o_totalprice") * 2)
                        .otherwise(F.col("o_totalprice") * 0.5))
           .unionByName(
               o.where(F.col("o_orderkey") % 500 == 3)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + 1_000_000_000)))
    tt.merge_when(src,
                  update_cond="src.o_totalprice > tgt.o_totalprice",
                  delete_cond="src.o_orderkey % 50 = 10",
                  insert_cond="src.o_custkey % 2 = 0")
    return tt.snapshot()


@q("txn_replace_table",
   f"""SELECT o_custkey, count(*) AS n_orders,
              {sql_dsum('o_totalprice', 'revenue')}
      FROM orders GROUP BY o_custkey""")
def txn_replace_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE TABLE: the nightly full-rebuild spelling — a
    per-customer aggregate replaces the raw orders table (new schema,
    new merge key, new stats layout) in ONE commit; readers see
    old-then-new with no gap, old versions still time-travel, and the
    change feed raises its resync contract at the rewrite instead of
    folding past it silently (tests/test_txlog.py pins all three)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_replace_table")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=6)
    rebuilt = (o.groupBy("o_custkey")
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    dsum("o_totalprice", "revenue")))
    tt.replace_table(rebuilt, "o_custkey", stats_cols=["n_orders"])
    return tt.snapshot()


@q("txn_table_diff",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
             'delete' AS _change_type
      FROM orders WHERE o_orderkey % 50 IN (3, 11)
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderkey * 0.5, o_orderstatus,
             'insert'
      FROM orders WHERE o_orderkey % 50 = 3""")
def txn_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF between versions (no change feed required): rows
    leaving the live set surface as deletes, rows entering as inserts
    — here the %50=3 reprice shows as its delete/insert pair and the
    %50=11 delete as deletes. Only the files that DIFFER between the
    two live sets are read (O(changed files), pinned in
    tests/test_txlog.py) — the audit primitive for "what moved between
    two versions" on a 100 TB table."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_diff")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    tt.merge_upsert(o.where(F.col("o_orderkey") % 50 == 3)
                    .withColumn("o_totalprice",
                                F.col("o_orderkey") * 0.5))    # v1
    tt.delete_keys(o.where(F.col("o_orderkey") % 50 == 11)     # v2
                    .select("o_orderkey"))
    return tt.diff(0)


@q("txn_analyze",
   """SELECT col, n_rows, n_nonnull, vmin, vmax FROM (
        SELECT 'o_orderkey' AS col, count(*) AS n_rows,
               count(o_orderkey) AS n_nonnull,
               CAST(min(o_orderkey) AS VARCHAR) AS vmin,
               CAST(max(o_orderkey) AS VARCHAR) AS vmax FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(o_custkey),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(o_orderstatus),
               min(o_orderstatus), max(o_orderstatus) FROM orders)""")
def txn_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE: one distributed pass computes row count + per
    column non-null/NDV/min/max, committed to the LOG as a metadata
    action — any later reader or planner sees the stats without a
    rescan (table_stats() is log-replay only; staleness counted per
    row-moving commit). The oracle checks the exact stats (count /
    nulls / min / max); the HLL++ NDV is engine-approximate by design
    and is pinned within ±5% in tests/test_txlog.py instead."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_analyze")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=4)
    tt.analyze(columns=["o_orderkey", "o_custkey", "o_orderstatus"])
    st = TxTable(spark, root).table_stats()    # fresh handle: log only
    rows = [(c, st["rows"], cs["n_nonnull"], cs["min"], cs["max"])
            for c, cs in st["columns"].items()]
    return spark.createDataFrame(
        rows, "col string, n_rows long, n_nonnull long, "
              "vmin string, vmax string")


@q("txn_broadcast_advice",
   """SELECT 'dim' AS tbl, (SELECT count(*) FROM orders WHERE
             o_orderkey <= 200) AS n_rows, true AS broadcast
      UNION ALL
      SELECT 'fact', (SELECT count(*) FROM orders), false""")
def txn_broadcast_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO join-side advice from analyzed stats: the dim table's live
    byte size (exact, filesystem metadata recorded by ANALYZE) is under
    the broadcast threshold, the fact's is over — the
    autoBroadcastJoinThreshold decision made from LOG stats instead of
    a scan. The oracle pins the decisions plus the exact row counts the
    stats carry."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_advice")
    shutil.rmtree(root, ignore_errors=True)
    dim = TxTable(spark, os.path.join(root, "dim"))
    dim.create(o.where(F.col("o_orderkey") <= 200), "o_orderkey")
    fact = TxTable(spark, os.path.join(root, "fact"))
    fact.create(o, "o_orderkey", n_files=4)
    rows = []
    for name, tt in (("dim", dim), ("fact", fact)):
        tt.analyze(columns=["o_orderkey"])
        adv = tt.advise_broadcast(threshold_bytes=8 * 1024)
        rows.append((name, adv["rows"], adv["broadcast"]))
    return spark.createDataFrame(
        rows, "tbl string, n_rows long, broadcast boolean")


@q("txn_bloom_col_prune",
   """SELECT o_orderkey, o_custkey, o_totalprice,
             'T' || reverse(CAST(o_orderkey AS VARCHAR)) AS tracking
      FROM orders WHERE o_orderkey % 1000 = 1""")
def txn_bloom_col_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER INDEX on a non-key column (Delta's ``CREATE
    BLOOMFILTER INDEX``): ``tracking`` is high-cardinality and
    deliberately UNCLUSTERED relative to the key-ranged files (reversed
    key digits), so min/max stats can never prune it — the per-file
    column bloom is what lets a point-lookup batch skip files that
    cannot contain any requested value. At 100 TB this is the
    secondary-id lookup path (a tracking number, an order UUID): O(k)
    probe hashes per row at write, O(matching files) at read
    (prune counts pinned in tests/test_txlog.py)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = (t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey", "o_totalprice")
         .withColumn("tracking",
                     F.concat(F.lit("T"),
                              F.reverse(F.col("o_orderkey")
                                        .cast("string")))))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_bloomcol")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, bloom_cols=["tracking"])
    picks = [r["tracking"] for r in
             o.where(F.col("o_orderkey") % 1000 == 1)
              .select("tracking").collect()]
    return tt.read_col_in("tracking", picks)


@q("txn_copy_into",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders""")
def txn_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO (Delta/Snowflake): idempotent bulk file ingest — each
    loaded file's identity rides in the commit, a re-run of the same
    command skips every already-loaded file (asserted here: the second
    run loads 0), and only files that appeared since are read. The
    landing-dir pattern for orchestrated ingest at 100 TB: the retry of
    a crashed load job is a metadata no-op, never a double-load
    (semantics pinned in tests/test_txlog.py)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_copy_into")
    shutil.rmtree(root, ignore_errors=True)
    land = os.path.join(root, "landing")
    o.where("o_orderkey % 3 = 0").write.parquet(os.path.join(land, "a"))
    o.where("o_orderkey % 3 <> 0").write.parquet(os.path.join(land, "b"))
    tt = TxTable(spark, os.path.join(root, "t"))
    tt.create(o.limit(0), "o_orderkey")
    tt.copy_into(land)
    res = tt.copy_into(land)                     # retry: must no-op
    assert res["files_loaded"] == 0 and res["rows_loaded"] == 0
    return tt.snapshot()


@q("txn_restore",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders""")
def txn_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE: after a DV delete AND a mutating merge, one
    restore commit resets files + deletion vectors + metadata to
    version 0 — an undo that PRESERVES history (every intermediate
    version still time-travels; pinned in tests/test_txlog.py). The
    oracle is the original table, which the restored snapshot must
    equal exactly."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_restore")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=6)
    tt.delete_keys_dv(o.where(F.col("o_orderkey") % 9 == 1)
                      .select("o_orderkey"))
    tt.merge_upsert(o.limit(25).withColumn("o_totalprice", F.lit(1.0)))
    tt.restore(0)
    return tt.snapshot()


@q("txn_restore_cdf",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
             'insert' AS _change_type,
             CAST(2 AS BIGINT) AS _commit_version
      FROM orders WHERE o_orderkey % 7 = 3""")
def txn_restore_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-TRACKED RESTORE (beyond Delta, whose RESTORE breaks CDF
    consumers): the restore commit materializes its own row-level diff
    into the change feed, so ``read_changes`` — and every incremental
    consumer built on it (aggregate MV, streaming replication) — flows
    EXACTLY across the undo instead of resyncing. Here the restore
    undoes a DELETE, so its change rows are precisely the deleted rows
    coming back as inserts; the diff read touches only the files the
    delete rewrote (O(changed files), pinned in
    tests/test_txlog_cdf.py), never the untouched ones."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_restore_cdf")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=6, change_feed=True)
    tt.delete_keys(o.where(F.col("o_orderkey") % 7 == 3)       # v1
                    .select("o_orderkey"))
    res = tt.restore(0)                                        # v2
    assert res["cdf_tracked"], "restore must be row-tracked"
    return tt.read_changes(since_version=2)


@q("txn_shallow_clone",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 9 <> 1""")
def txn_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style SHALLOW CLONE: a zero-copy table whose version-0
    create hard-links the source's current data AND deletion-vector
    files — metadata-sized cost for a 100 TB dev/test copy; divergence
    and vacuum independence pinned in tests/test_txlog.py. The read of
    the clone must equal the source's DV-filtered state."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_clone_src")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_dst", ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=6)
    tt.delete_keys_dv(o.where(F.col("o_orderkey") % 9 == 1)
                      .select("o_orderkey"))
    clone = tt.clone_to(root + "_dst")
    return clone.snapshot()


@q("txn_check_constraint",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_totalprice > 0""")
def txn_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style CHECK constraint: added only after validating every
    existing row (one scan), then enforced pre-commit on each write —
    a violating append/merge rejects before a single file lands
    (rejection pinned in tests/test_txlog.py). The query loads the
    valid slice under the constraint and appends the remainder; the
    snapshot must equal the plain filtered table."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus") \
        .where(F.col("o_totalprice") > 0)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_check")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4)
    tt.add_constraint("price_pos", "o_totalprice > 0")
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))
    return tt.snapshot()


@q("txn_catalog_star",
   f"""SELECT c_mktsegment, count(*) AS n,
              {sql_dsum('o_totalprice', 'revenue')}
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""")
def txn_catalog_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table CATALOG over the log format: two transactional tables
    registered under one ``TxCatalog`` (its own ordered commit log of
    create/drop actions — consistent listings, raced name claims settled
    by the table's version-0 commit), read back BY NAME and joined into
    a fact-dimension aggregate. The metastore slice of a real table
    format (tests/test_txlog.py covers drop/purge/race semantics)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxCatalog

    root = os.path.join(tempfile.gettempdir(), "wpe_txn_catalog")
    shutil.rmtree(root, ignore_errors=True)
    cat = TxCatalog(spark, root)
    cat.create_table("orders", t(spark, sf_dir, "orders")
                     .select("o_orderkey", "o_custkey", "o_totalprice"),
                     "o_orderkey", n_files=4)
    cat.create_table("customer", t(spark, sf_dir, "customer")
                     .select("c_custkey", "c_mktsegment"), "c_custkey")
    o = cat.table("orders").snapshot()
    c = cat.table("customer").snapshot()
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "revenue")))


@q("txn_multitable_publish",
   f"""WITH dim AS (SELECT c_custkey,
                          CASE WHEN c_custkey % 10 = 0 THEN 'GOLD'
                               ELSE c_mktsegment END AS segment
                   FROM customer),
          fact AS (SELECT o_orderkey, o_custkey, o_totalprice
                   FROM orders)
      SELECT d.segment AS segment, count(*) AS n_orders,
             {sql_dsum('f.o_totalprice', 'revenue')}
      FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
      GROUP BY d.segment""")
def txn_multitable_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE TRANSACTION through the catalog: a dimension update
    (promote every 10th customer to a GOLD segment) and a fact append
    (the other half of orders) stage as pending commits in their own
    table logs and become visible at the SINGLE atomic creation of the
    transaction's decision file — the catalog-coordinated commit of
    Iceberg-REST/Nessie catalogs. The read side goes through
    ``snapshot_set``, the pinned consistent cut, so a dashboard can
    never observe the new facts against the old dimension — the
    all-or-nothing target publish the reference's two-phase target
    stage (``etl_target_loader.py``) wants from its warehouse, here at
    O(touched files) + one metadata object per transaction
    (tests/test_txlog_multitable.py pins atomicity, presumed-abort,
    serialization, and crash recovery)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxCatalog

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_multi")
    shutil.rmtree(root, ignore_errors=True)
    cat = TxCatalog(spark, root)
    cat.create_table("dim_customer",
                     cust.withColumnRenamed("c_mktsegment", "segment"),
                     "c_custkey", n_files=4)
    cat.create_table("fact_orders", o.where("o_orderkey % 2 = 0"),
                     "o_orderkey", n_files=4)

    with cat.begin() as txn:
        txn.table("dim_customer").merge_upsert(
            cust.where("c_custkey % 10 = 0")
                .select("c_custkey", F.lit("GOLD").alias("segment")))
        txn.table("fact_orders").append(o.where("o_orderkey % 2 = 1"))

    snaps = cat.snapshot_set(["dim_customer", "fact_orders"])
    d, f = snaps["dim_customer"], snaps["fact_orders"]
    return (f.join(F.broadcast(d), f.o_custkey == d.c_custkey)
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "revenue")))


@q("txn_change_feed",
   f"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                            o_orderstatus FROM orders),
          u AS (SELECT * FROM {_TXN_UPDATES_SQL} updates)
      SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus,
             'update_preimage' AS _change_type,
             CAST(1 AS BIGINT) AS _commit_version
      FROM base b WHERE b.o_orderkey % 50 = 3
      UNION ALL
      SELECT u.o_orderkey, u.o_custkey, u.o_totalprice, u.o_orderstatus,
             CASE WHEN u.o_orderkey = 7777777 THEN 'insert'
                  ELSE 'update_postimage' END,
             CAST(1 AS BIGINT)
      FROM u
      UNION ALL
      SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus,
             'delete', CAST(2 AS BIGINT)
      FROM base b WHERE b.o_orderkey % 50 = 11""")
def txn_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED on the log table (Delta CDF): with
    ``change_feed=True`` the MERGE captures row-level pre/post images
    and inserts, the DELETE captures its victim rows, and
    ``read_changes`` serves the ordered change stream with
    ``_change_type`` / ``_commit_version`` — O(changed rows) capture at
    write time over only the touched files, never a snapshot diff. The
    oracle reconstructs the exact expected stream: preimages are the
    original %50=3 rows, postimages their repriced twins, the one brand
    new key an insert, and the %50=11 rows delete records at the next
    version (tests/test_txlog_cdf.py pins capture, retention, and the
    sealed-prefix txn interplay)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o, updates = _txn_updates(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_cdf")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, change_feed=True)
    tt.merge_upsert(updates)                                   # v1
    tt.delete_keys(o.where(F.col("o_orderkey") % 50 == 11)     # v2
                    .select("o_orderkey"))
    return tt.read_changes(since_version=1)


@q("txn_cdf_incremental_agg",
   f"""WITH u AS (SELECT * FROM {_TXN_UPDATES_SQL} updates),
          base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                          o_orderstatus FROM orders),
          final AS (SELECT * FROM base ANTI JOIN u USING (o_orderkey)
                    UNION ALL SELECT * FROM u)
      SELECT o_orderstatus, count(*) AS n_orders,
             {sql_dsum('o_totalprice', 'revenue')}
      FROM final WHERE o_orderkey % 50 <> 11
      GROUP BY o_orderstatus""")
def txn_cdf_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE from the change feed: the
    downstream revenue-by-status aggregate is maintained by folding the
    CDF deltas (+postimage/insert, −preimage/delete) into the version-0
    aggregate state — never re-scanning the table. Decimal-routed sums
    keep the fold EXACT, so the result equals the oracle's full
    recompute of the final state bit-for-bit. This is the 100 TB
    consumer pattern ``read_changes`` exists for: nightly aggregate
    refresh costs O(changed rows), not O(table) — the scalable answer
    to the reference's re-aggregate-everything BI loader
    (``etl_bi_loader.py``)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o, updates = _txn_updates(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_cdfagg")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8, change_feed=True)
    tt.merge_upsert(updates)
    tt.delete_keys(o.where(F.col("o_orderkey") % 50 == 11)
                    .select("o_orderkey"))

    dec = F.col("o_totalprice").cast("decimal(28,6)")
    base = (tt.snapshot(0).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n0"),
                 F.sum(dec).alias("r0")))
    sign = F.when(F.col("_change_type").isin("insert",
                                             "update_postimage"),
                  F.lit(1)).otherwise(F.lit(-1))
    delta = (tt.read_changes(since_version=1)
             .groupBy("o_orderstatus")
             .agg(F.sum(sign).alias("nd"),
                  F.sum(dec * sign).alias("rd")))
    zero = F.lit(0).cast("decimal(28,6)")
    return (base.join(delta, "o_orderstatus", "full")
            .select("o_orderstatus",
                    (F.coalesce("n0", F.lit(0))
                     + F.coalesce("nd", F.lit(0))).alias("n_orders"),
                    F.round(F.coalesce("r0", zero)
                            + F.coalesce("rd", zero), 2)
                    .cast("double").alias("revenue")))


@q("txn_schema_evolution",
   """SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(NULL AS VARCHAR) AS priority_band
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice,
             substr(o_orderpriority, 1, 1)
      FROM orders WHERE o_orderkey % 2 = 1""")
def txn_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT additive schema evolution on the log table: a
    metadata-only ``evolve`` commit adds a nullable column (O(1), no
    file moves); pre-evolution files read the column as NULL through the
    declared schema, while the post-evolution append carries real
    values — silent drift stays rejected throughout
    (tests/test_txlog.py covers the merge-across-boundary and
    time-travel-to-old-schema cases)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_custkey", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_evolve")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(base.where("o_orderkey % 2 = 0"), "o_orderkey", n_files=4)
    tt.add_columns({"priority_band": "string"})
    tt.append(o.where("o_orderkey % 2 = 1")
              .select("o_orderkey", "o_custkey", "o_totalprice",
                      F.substring("o_orderpriority", 1, 1)
                       .alias("priority_band")))
    return tt.snapshot()


@q("txn_delete_compact",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 100 <> 7""")
def txn_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional DELETE + OPTIMIZE on the log table: scattered keys
    (o_orderkey % 100 = 7 — present in every file, so range pruning
    alone cannot help and every rewrite is real) are deleted in one
    file-pruned copy-on-write commit, then ``compact`` bin-packs the
    resulting small files back into range-tight ones in a second commit
    with ZERO row changes. The oracle sees only the surviving rows —
    identical before and after compaction by construction."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_delcomp")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    tt.delete_keys(o.where(F.col("o_orderkey") % 100 == 7)
                    .select("o_orderkey"))
    tt.compact(target_rows=1_000_000)
    return tt.snapshot()


@q("txn_date_skipping",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'""")
def txn_date_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-column data skipping on the log table: the table declares
    ``stats_cols=["o_orderdate"]`` beside the merge key, ingest arrives
    in date-clustered batches (the natural daily-append shape), and a BI
    date-band read (``read_stats_range``) scans ONLY the files whose
    date [min, max] intersects the band — merge prunes on the key, reads
    prune on the date (tests/test_txlog.py asserts the file counts)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderdate")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_skip")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where("o_orderdate < TIMESTAMP '1996-01-01'"),
              "o_orderkey", n_files=4, stats_cols=["o_orderdate"])
    tt.append(o.where("o_orderdate >= TIMESTAMP '1996-01-01' AND "
                      "o_orderdate < TIMESTAMP '1997-01-01'"))
    tt.append(o.where("o_orderdate >= TIMESTAMP '1997-01-01'"))
    return tt.read_stats_range("1996-01-01 00:00:00",
                               "1996-12-31 23:59:59")


@q("scd2_merge_tx", _J05_ORACLE)
def scd2_merge_tx_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D4 through the TRANSACTION TABLE: the same two-run SCD2 load as
    ``j05_j06_j07_d02_scd2_two_run`` (same oracle), but run 2's expiry
    UPDATE + versioned INSERT commit as ONE atomic, file-pruned
    ``TxTable`` merge (operators/scd2.py:scd2_merge_tx) instead of a
    whole-dimension rewrite — the reference's flagship transaction
    (``etl_target_loader.py:320-479``) with O(touched files) storage
    cost. Untouched-file survival is asserted in tests/test_txlog.py."""
    import shutil

    from walmart_project_etl_spark.operators.scd2 import scd2_merge_tx
    from walmart_project_etl_spark.sources.txlog import TxTable

    cust = t(spark, sf_dir, "customer")
    tracked = ["c_name", "bal", "seg"]
    src1 = (cust.where(F.col("c_custkey") <= 100)
            .select("c_custkey", "c_name", F.col("c_acctbal").alias("bal"),
                    F.col("c_mktsegment").alias("seg")))
    dim1 = scd2_apply(None, src1, "c_custkey", tracked, "dim_sk",
                      "2026-01-02", F.lit("2026-01-02").cast("timestamp"))
    root = os.path.join(tempfile.gettempdir(), "wpe_scd2_tx")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(dim1, "c_custkey", n_files=6)
    src2 = (cust.where(F.col("c_custkey") <= 120)
            .select("c_custkey", "c_name",
                    F.when(F.col("c_custkey") <= 50, F.col("c_acctbal") + 50)
                     .otherwise(F.col("c_acctbal")).alias("bal"),
                    F.col("c_mktsegment").alias("seg")))
    scd2_merge_tx(tt, src2, "c_custkey", tracked, "dim_sk",
                  "2026-02-01", F.lit("2026-02-01").cast("timestamp"))
    return (tt.snapshot()
            .withColumn("effective_date", F.date_format("effective_date", "yyyy-MM-dd"))
            .withColumn("expiry_date", F.date_format("expiry_date", "yyyy-MM-dd")))


@q("skew_salted_aggregate",
   """SELECT l_returnflag, count(*) AS n_rows,
             round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 2)::DOUBLE
               AS sum_l_extendedprice,
             round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2)::DOUBLE
               AS sum_l_quantity
      FROM lineitem GROUP BY l_returnflag""")
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation: two-phase salted aggregation over a 3-key column
    (every key is hot) — must be bit-identical to the plain groupBy. The
    salt spreads each hot key over 16 reducers before the final merge."""
    from walmart_project_etl_spark.operators.skew import salted_sum
    li = t(spark, sf_dir, "lineitem")
    return salted_sum(li, ["l_returnflag"],
                      ["l_extendedprice", "l_quantity"], n_salts=16)


@q("skew_salted_join",
   f"""SELECT o_orderpriority, count(*) AS n,
             {sql_dsum('l_extendedprice', 'revenue')}
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation: salted equi-join (big side salted from row content,
    small side replicated per salt) — same result as the plain join."""
    from walmart_project_etl_spark.operators.skew import salted_join
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join(li, o, "l_orderkey", n_salts=8)
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "revenue")))


@q("skew_salted_latest",
   """SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_price
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""")
def skew_salted_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe W1 dedup-latest: two-phase max-struct aggregation
    (operators/skew.py:salted_latest) instead of the row_number window —
    the hot key spreads over 16 reducers in phase 1 and merges 16
    candidate rows in phase 2, where the window would serialize the whole
    key through one task (AQE cannot split a window partition). Must be
    row-identical to the W1 window (same oracle as w01)."""
    from walmart_project_etl_spark.operators.skew import salted_latest
    o = t(spark, sf_dir, "orders")
    latest = salted_latest(o, ["o_custkey"], "o_orderdate", "o_orderkey")
    return latest.select("o_custkey",
                         F.col("o_orderkey").alias("latest_orderkey"),
                         F.col("o_totalprice").alias("latest_price"))


@q("s11_jsonl_roundtrip",
   """SELECT doc_id, source, lang, text FROM documents""")
def s11_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round-trip: documents → JSON-Lines files →
    declared-schema scan, byte-identical to the parquet original (the
    dominant LLM-corpus interchange format; schema declaration skips the
    inference scan and keeps pruning/pushdown — sources.ingest)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from walmart_project_etl_spark.sources.ingest import read_jsonl, write_jsonl
    import hashlib
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    path = os.path.join(tempfile.gettempdir(),
                        "wpe_jsonl_roundtrip_"
                        + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    write_jsonl(d, path)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("source", StringType()),
                         StructField("lang", StringType()),
                         StructField("text", StringType())])
    return read_jsonl(spark, path, schema)


@q("txn_rename_column",
   """SELECT o_orderkey AS okey, o_custkey,
             CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price,
             o_orderstatus AS status
      FROM orders""")
def txn_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING rename (Delta column-mapping semantics,
    sources/txlog.py:rename_column): renaming the MERGE KEY, a stats
    column, and a value column are each ONE metadata-only commit — no
    data file moves at any table size — and every later operation keeps
    working through the mapping: the post-rename APPEND and key-pruned
    MERGE write physical names, pre-rename files stay fully readable
    and prunable (kmin/kmax/bloom/cstats are keyed by physical names,
    which never move). The oracle recomputes the final state under the
    new logical names. Pinned in tests/test_txlog_mapping.py."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_rename")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4, stats_cols=["o_orderstatus"])
    tt.rename_column("o_orderkey", "okey")          # the merge key
    tt.rename_column("o_orderstatus", "status")     # a stats column
    tt.rename_column("o_totalprice", "price")       # a value column
    renamed = (o.withColumnRenamed("o_orderkey", "okey")
               .withColumnRenamed("o_orderstatus", "status")
               .withColumnRenamed("o_totalprice", "price"))
    tt.append(renamed.where(F.col("okey") % 2 == 1))
    tt.merge_upsert(renamed.where(F.col("okey") % 50 == 0)
                    .withColumn("price", F.col("price") * 2))
    return tt.snapshot().select("okey", "o_custkey", "price", "status")


@q("txn_drop_column",
   """SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 25 = 0 THEN 'adjusted' END AS note
      FROM orders""")
def txn_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING drop + re-add (sources/txlog.py:drop_column): a
    column is dropped in ONE metadata-only commit (no rewrite — the
    physical column just stops being selected), then the SAME logical
    name is re-introduced by a mergeSchema merge. The re-added name
    maps to a FRESH physical name, so the dropped data never
    resurrects: pre-drop rows read NULL, only the merge's rows carry
    the new values — the hazard Delta's column-mapping field IDs exist
    to prevent, proven here by the oracle's CASE shape. Pinned in
    tests/test_txlog_mapping.py::test_drop_then_readd_never_resurrects."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_dropcol")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.withColumn("note", F.lit("legacy")), "o_orderkey",
              n_files=4)
    tt.drop_column("note")
    tt.merge_upsert(o.where(F.col("o_orderkey") % 25 == 0)
                    .withColumn("note", F.lit("adjusted")),
                    merge_schema=True)
    return tt.snapshot()


@q("txn_type_widening",
   """SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS o_custkey,
             CASE WHEN o_orderkey % 40 = 0
                  THEN CAST(o_totalprice AS DOUBLE) * 4
                  ELSE CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
             END AS price
      FROM orders""")
def txn_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING (Delta ALTER COLUMN TYPE semantics,
    sources/txlog.py:widen_column): an explicit int→bigint widen and an
    implicit float→double widen via a merge_schema=True merge are each
    ONE metadata-only commit — no data rewrite; the parquet reader
    serves every pre-widen file under the wider declared type natively.
    Narrower post-widen writes upcast losslessly and automatically;
    lossy type drift is rejected loudly (one double file landing in an
    int column would otherwise poison every later snapshot read).
    Pinned in tests/test_txlog_widening.py."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("int").alias("o_custkey"),
        F.col("o_totalprice").cast("float").alias("price"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_widen")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4)
    tt.widen_column("o_custkey", "bigint")       # explicit, metadata-only
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))   # narrow: upcasts
    # implicit widen: the merge source carries price as DOUBLE
    tt.merge_upsert(
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 40 == 0)
        .select("o_orderkey",
                F.col("o_custkey").cast("int").alias("o_custkey"),
                (F.col("o_totalprice").cast("double") * 4).alias("price")),
        merge_schema=True)
    return tt.snapshot()


@q("txn_generated_columns",
   """WITH base AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 60 = 0
                    THEN o_totalprice * 5 ELSE o_totalprice
               END AS o_totalprice
        FROM orders)
      SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
             count(*) AS n_orders,
             round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2)::DOUBLE
               AS total
      FROM base GROUP BY order_month""")
def txn_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS (Delta GENERATED ALWAYS AS,
    sources/txlog.py:create(generated=)): the table declares a derived
    month PARTITION column writers never provide — every write path
    (create, append, merge) computes it from the expression, a provided
    value is validated against the expression pre-commit, and a
    predicate UPDATE recomputes it after its SETs. The month aggregate
    groups by the GENERATED column read back from the table, and the
    per-month read is partition-pruned on the log alone — the
    generated-partition pattern that keeps 100 TB date pruning exact by
    construction. Pinned in tests/test_txlog_generated.py."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate",
                                          "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_gencol")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4, partition_by="order_month",
              generated={"order_month":
                         "date_format(o_orderdate, 'yyyy-MM')"})
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))
    tt.merge_upsert(o.where(F.col("o_orderkey") % 60 == 0)
                    .withColumn("o_totalprice",
                                F.col("o_totalprice") * 5))
    return (tt.snapshot()
            .groupBy("order_month")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(28,6)")), 2)
                 .cast("double").alias("total")))


@q("txn_generated_partition_prune",
   """WITH band AS (
        SELECT o_orderdate, o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND o_orderdate <= TIMESTAMP '1996-11-15 23:59:59')
      SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
             count(*) AS n_orders,
             round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2)::DOUBLE
               AS total
      FROM band GROUP BY 1""")
def txn_generated_partition_prune(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """GENERATED-COLUMN PARTITION FILTER INFERENCE
    (sources/txlog.py:read_generated_range — Delta's optimization): a
    timestamp-band predicate on the SOURCE column prunes the generated
    month partitions the caller never named — the band maps through
    the same date_format expression the writers used, so only the
    covered months' files are read (file counts pinned in
    tests/test_txlog_generated.py::
    test_generated_partition_filter_inference); the exact predicate
    stays as the residual filter. The oracle recomputes the banded
    month aggregate from scratch — exact."""
    import datetime as dt
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate",
                                          "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_genprune")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              n_files=4, partition_by="order_month",
              generated={"order_month":
                         "date_format(o_orderdate, 'yyyy-MM')"})
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))
    band = tt.read_generated_range(
        "o_orderdate",
        dt.datetime(1996, 3, 1), dt.datetime(1996, 11, 15, 23, 59, 59))
    return (band.groupBy("order_month")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(28,6)")), 2)
                 .cast("double").alias("total")))


@q("txn_identity_column",
   """WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 90 = 0 THEN -1.0
                    ELSE o_totalprice END AS v
        FROM orders)
      SELECT count(*) AS n_rows,
             count(*) AS n_distinct_ids,
             round(sum(CAST(v AS DECIMAL(28,6))), 2)::DOUBLE AS total_v
      FROM final""")
def txn_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY COLUMN (Delta GENERATED ALWAYS AS IDENTITY,
    sources/txlog.py:create(identity_col=)): an auto-keyed dimension —
    the surrogate key is assigned by the engine (distributed:
    high-water mark + per-partition counters, the mark advancing in
    the same commit as the data), never by the writer. Two appends and
    a merge later, ``n_distinct_ids`` returned from the engine equals
    the row count — the uniqueness contract expressed as an
    exact-SQL-checkable value (raw ids are engine-internal and carry
    gaps by design). Pinned in tests/test_txlog_identity.py."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("nk"),
        F.col("o_totalprice").alias("v"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_ident")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("nk") % 2 == 0), "sk", n_files=4,
              identity_col="sk")
    tt.append(o.where(F.col("nk") % 2 == 1))
    # the merge carries table-assigned ids (the SCD1 shape). The source
    # reads the SAME table the merge rewrites, so its lineage must be cut
    # before the write; localCheckpoint materializes on the executors —
    # no driver round-trip (the r11 nit: collect()+createDataFrame).
    upd = (tt.snapshot().where(F.col("nk") % 90 == 0)
           .withColumn("v", F.lit(-1.0))
           .localCheckpoint(eager=True))
    tt.merge_upsert(upd)
    s = tt.snapshot()
    return s.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("sk").alias("n_distinct_ids"),
        F.round(F.sum(F.col("v").cast("decimal(28,6)")), 2)
         .cast("double").alias("total_v"))


_REPL_SQL = """WITH base AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 45 = 0 THEN -1.0
                    ELSE o_totalprice END AS v
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT k, v FROM base"""


def _repl_source(spark: SparkSession, sf_dir: str, root: str):
    """Shared fixture: a change-feed source with merge + delete +
    append history (the four change-producing commit shapes)."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"))
    shutil.rmtree(root, ignore_errors=True)
    src = TxTable(spark, root)
    src.create(o.where(F.col("k") % 2 == 0), "k", n_files=4,
               change_feed=True)
    src.append(o.where(F.col("k") % 2 == 1))
    src.merge_upsert(o.where(F.col("k") % 45 == 0)
                     .withColumn("v", F.lit(-1.0)))
    src.delete_keys(o.where(F.col("k") % 11 == 0).select("k"))
    return src


@q("txn_apply_changes", _REPL_SQL)
def txn_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES INTO (sources/txlog.py:apply_changes — the
    consumer half of the change feed, Delta Live Tables' CDC-apply):
    one call nets the source's whole multi-commit feed per key (last
    change wins by commit version, preimages ignored) and applies the
    upserts AND deletes in ONE atomic bloom-pruned commit — the
    primitive that turns a 100 TB table's change feed into a row-level
    replica for the cost of the CHANGES. The oracle recomputes the
    source's final state; the replica must equal it exactly. Pinned in
    tests/test_txlog_cdf.py::test_apply_changes_nets_and_replays."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    root = os.path.join(tempfile.gettempdir(), "wpe_txn_apply")
    src = _repl_source(spark, sf_dir, root)
    shutil.rmtree(root + "_rep", ignore_errors=True)
    rep = TxTable(spark, root + "_rep")
    rep.create(spark.createDataFrame([], src.snapshot().schema), "k")
    rep.apply_changes(src.read_changes(0), txn=("apply", 1))
    return rep.snapshot()


@q("stream_replicate_cdc", _REPL_SQL)
def stream_replicate_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC REPLICATION (streaming/jobs.py:
    stream_replicate_table): the txlog_changes Structured-Streaming
    source paces micro-batches of the source's change feed into
    apply_changes on a replica table — one atomic commit per batch,
    exactly-once via the replica's txn marker (redelivered batches are
    logged no-ops). The replica's final state must equal the source's
    recomputed final state exactly — the cross-region mirror pattern,
    end-to-end on this repo's primitives."""
    root = os.path.join(tempfile.gettempdir(), "wpe_stream_repl")
    import shutil

    from walmart_project_etl_spark.streaming.jobs import \
        stream_replicate_table

    _repl_source(spark, sf_dir, root)
    shutil.rmtree(root + "_rep", ignore_errors=True)
    rep = stream_replicate_table(spark, root, root + "_rep")
    return rep.snapshot()


@q("txn_manifest_export",
   """SELECT o_orderkey,
             CASE WHEN o_orderkey % 70 = 0 THEN 0.5
                  ELSE o_totalprice END AS v
      FROM orders""")
def txn_manifest_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYMLINK MANIFEST export (sources/txlog.py:export_manifest —
    Delta's symlink_format_manifest): after a create + merge the
    manifest lists exactly the live snapshot's files, and an external
    reader needs only that list + parquet to see a consistent
    snapshot. This query plays the external reader: it reads BACK
    through the manifest's file list (never the log) and must equal
    the oracle's recomputed final state. Cross-engine interop is
    additionally pinned against a real second engine (DuckDB) in
    tests/test_txlog.py::test_export_manifest_external_reader."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_totalprice").alias("v"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_manifest")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=4)
    tt.merge_upsert(o.where(F.col("o_orderkey") % 70 == 0)
                    .withColumn("v", F.lit(0.5)))
    manifest = tt.export_manifest()
    files = [ln.strip() for ln in open(manifest)]
    return spark.read.parquet(*files)


@q("txn_null_skipping",
   """SELECT o_orderkey, o_orderstatus AS note
      FROM orders WHERE o_orderkey % 2 = 1""")
def txn_null_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nullCount DATA SKIPPING (Delta's per-file null stats): the
    first ingest era wrote the ``note`` column entirely NULL (the
    late-arriving-column pattern); an ``IS NOT NULL`` read via
    read_where(not_null=) skips those files on the LOG alone — no
    file opens — and equals the unpruned filter exactly (the oracle
    recomputes it). Pruned-file count pinned in
    tests/test_txlog.py::test_null_count_skipping."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_nullskip")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0)
              .withColumn("note", F.lit(None).cast("string"))
              .drop("o_orderstatus"),
              "o_orderkey", n_files=4, stats_cols=["note"])
    tt.append(o.where(F.col("o_orderkey") % 2 == 1)
              .withColumn("note", F.col("o_orderstatus"))
              .drop("o_orderstatus"))
    return tt.read_where(not_null=["note"])


@q("txn_concurrent_disjoint_writers",
   f"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                            o_orderstatus FROM orders),
      u AS (SELECT * FROM {_TXN_UPDATES_SQL} updates)
      SELECT * FROM base ANTI JOIN u USING (o_orderkey)
      UNION ALL SELECT * FROM u
      UNION ALL SELECT * FROM (VALUES
        (1000000000001, 1, 9.9, 'N'), (1000000000002, 1, 9.9, 'N'),
        (1000000000003, 1, 9.9, 'N'))
        AS far(o_orderkey, o_custkey, o_totalprice, o_orderstatus)""")
def txn_concurrent_disjoint_writers(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Two writers race one table: a blind append of key-DISJOINT rows
    steals the merge's commit slot at exactly the lost-update window
    (deterministically, via the table's one-shot pre-commit race hook).
    The merge then classifies the interleaved commit under the
    WriteSerializable rule (sources/txlog.py:_retry_if_disjoint — the
    appended file's [kmin,kmax]+bloom cannot contain any merge key),
    re-commits its already-written rewrite at the new head, and SKIPS
    the data-plane re-run; the query raises if the fast path didn't
    take, so the driver's green row proves both the semantics and the
    optimization. Final state = merge result ∪ appended rows, exact
    against the SQL oracle."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o, updates = _txn_updates(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_race")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o, "o_orderkey", n_files=8)
    other = TxTable(spark, root)
    far = spark.createDataFrame(
        [(1000000000001, 1, 9.9, "N"), (1000000000002, 1, 9.9, "N"),
         (1000000000003, 1, 9.9, "N")], o.schema)
    tt._pre_commit_hook = lambda: other.append(far)
    stats = tt.merge_upsert(updates)
    if not stats.get("rerun_avoided"):
        raise ValueError(f"expected the disjoint-append fast path: {stats}")
    return tt.snapshot()


@q("dq_expectations_report",
   """SELECT 'not_null_o_custkey' AS check_name,
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
               AS n_violations
      UNION ALL
      SELECT 'unique_o_orderkey',
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
      UNION ALL
      SELECT 'accepted_values_o_orderstatus',
             (SELECT count(*) FROM orders
              WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
      UNION ALL
      SELECT 'fk_orders_customer',
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'positive_o_totalprice',
             (SELECT count(*) FROM orders WHERE o_totalprice <= 0)""")
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the dbt-test / Deequ
    check suite shape): not-null, uniqueness, accepted-values,
    referential-integrity, and range checks evaluated in ONE fact scan
    (conditional-sum flags + a broadcast FK probe fold into a single
    scalar aggregate, then ``stack`` unpivots the 1×5 row to the report)
    — the whole suite costs one map-side-combinable pass at 100 TB,
    never a row-level materialization or a per-check rescan.
    Generalizes the reference's hand-rolled FK/count gates
    (etl_quality_checks; J3/A4) into a uniform contract."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    flagged = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"),
                             F.lit(1).alias("__fk"))),
        "o_custkey", "left")
    agg = flagged.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
         .alias("v_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
         .alias("v_unique"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
               .otherwise(0)).alias("v_accept"),
        F.sum(F.when(F.col("__fk").isNull(), 1).otherwise(0))
         .alias("v_fk"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
         .alias("v_range"))
    return agg.select(F.expr(
        "stack(5, 'not_null_o_custkey', v_null,"
        " 'unique_o_orderkey', v_unique,"
        " 'accepted_values_o_orderstatus', v_accept,"
        " 'fk_orders_customer', v_fk,"
        " 'positive_o_totalprice', v_range)"
        " AS (check_name, n_violations)"))


@q("dq_fd_violations",
   """WITH g1 AS (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
                  FROM orders GROUP BY o_orderkey),
      g2 AS (SELECT o_custkey, count(DISTINCT o_orderstatus) AS nd
             FROM orders GROUP BY o_custkey),
      g3 AS (SELECT o_orderdate, o_orderpriority,
                    count(DISTINCT o_orderstatus) AS nd
             FROM orders GROUP BY o_orderdate, o_orderpriority),
      u AS (
        SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_groups,
               sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
                 AS n_violations FROM g1
        UNION ALL
        SELECT 'o_custkey->o_orderstatus', count(*),
               sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT FROM g2
        UNION ALL
        SELECT 'o_orderdate,o_orderpriority->o_orderstatus', count(*),
               sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT FROM g3)
      SELECT fd, n_groups, n_violations,
             n_violations / n_groups AS violation_pct
      FROM u""")
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY profiling (operators/cleaning.py:
    fd_violations — the discovery-side complement of the expectation
    gates): does X actually determine Y in the data? Three candidate
    FDs over orders — the true key FD (orderkey→custkey, holds), a
    deliberately false one (custkey→orderstatus), and a composite-LHS
    one (orderdate,orderpriority→orderstatus) — each ONE aggregation
    shuffled on its own determinant, summarized to a row. The report a
    pipeline reads before trusting a 'natural key' for MERGE/dedup."""
    from walmart_project_etl_spark.operators.cleaning import fd_violations
    o = t(spark, sf_dir, "orders")
    return fd_violations(o, [
        ("o_orderkey->o_custkey", ["o_orderkey"], ["o_custkey"]),
        ("o_custkey->o_orderstatus", ["o_custkey"], ["o_orderstatus"]),
        ("o_orderdate,o_orderpriority->o_orderstatus",
         ["o_orderdate", "o_orderpriority"], ["o_orderstatus"]),
    ])


@q("dq_psi_drift",
   """WITH ref AS (
        SELECT o_totalprice, o_orderpriority FROM orders
        WHERE o_orderkey % 2 = 0),
      cur AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN o_totalprice * 1.5
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_custkey % 5 = 0 THEN '1-URGENT'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1),
      e AS (SELECT quantile_cont(o_totalprice, 0.1) AS e0,
                   quantile_cont(o_totalprice, 0.2) AS e1,
                   quantile_cont(o_totalprice, 0.3) AS e2,
                   quantile_cont(o_totalprice, 0.4) AS e3,
                   quantile_cont(o_totalprice, 0.5) AS e4,
                   quantile_cont(o_totalprice, 0.6) AS e5,
                   quantile_cont(o_totalprice, 0.7) AS e6,
                   quantile_cont(o_totalprice, 0.8) AS e7,
                   quantile_cont(o_totalprice, 0.9) AS e8
            FROM ref),
      sides AS (
        SELECT 'r' AS side, o_totalprice AS x, o_orderpriority AS cat
        FROM ref
        UNION ALL
        SELECT 'c', o_totalprice, o_orderpriority FROM cur),
      nb AS (
        SELECT side,
               (CASE WHEN x >= e0 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e1 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e2 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e3 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e4 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e5 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e6 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e7 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e8 THEN 1 ELSE 0 END) AS b
        FROM sides, e WHERE x IS NOT NULL),
      numc AS (SELECT side, b, count(*) AS c FROM nb GROUP BY side, b),
      catc AS (SELECT side, cat AS b, count(*) AS c FROM sides
               WHERE cat IS NOT NULL GROUP BY side, cat),
      catk AS (SELECT count(DISTINCT cat)::DOUBLE AS k FROM sides
               WHERE cat IS NOT NULL),
      r1 AS (SELECT b, c AS cr FROM numc WHERE side = 'r'),
      c1 AS (SELECT b, c AS cc FROM numc WHERE side = 'c'),
      nr1 AS (SELECT sum(cr) AS nr FROM r1),
      nc1 AS (SELECT sum(cc) AS nc FROM c1),
      j1 AS (SELECT coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
             FROM r1 FULL JOIN c1 USING (b)),
      tm1 AS (
        SELECT round(CAST(
            ((cc + 1.0) / (nc + 10.0) - (cr + 1.0) / (nr + 10.0))
            * CAST(round(ln(((cc + 1.0) / (nc + 10.0))
                            / ((cr + 1.0) / (nr + 10.0))), 6)
                   AS DECIMAL(20,6))::DOUBLE
            AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS term, nr, nc
        FROM j1, nr1, nc1),
      r2 AS (SELECT b, c AS cr FROM catc WHERE side = 'r'),
      c2 AS (SELECT b, c AS cc FROM catc WHERE side = 'c'),
      nr2 AS (SELECT sum(cr) AS nr FROM r2),
      nc2 AS (SELECT sum(cc) AS nc FROM c2),
      j2 AS (SELECT coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
             FROM r2 FULL JOIN c2 USING (b)),
      tm2 AS (
        SELECT round(CAST(
            ((cc + 1.0) / (nc + k) - (cr + 1.0) / (nr + k))
            * CAST(round(ln(((cc + 1.0) / (nc + k))
                            / ((cr + 1.0) / (nr + k))), 6)
                   AS DECIMAL(20,6))::DOUBLE
            AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS term, nr, nc
        FROM j2, nr2, nc2, catk)
      SELECT 'o_totalprice' AS feature,
             round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(28,8)),
                   6)::DOUBLE AS psi,
             CAST(any_value(nr) AS BIGINT) AS n_ref,
             CAST(any_value(nc) AS BIGINT) AS n_cur
      FROM tm1
      UNION ALL
      SELECT 'o_orderpriority',
             round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(28,8)),
                   6)::DOUBLE,
             CAST(any_value(nr) AS BIGINT), CAST(any_value(nc) AS BIGINT)
      FROM tm2""")
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX drift report (operators/cleaning.py:
    psi_drift) between a reference snapshot (even orderkeys) and a
    deliberately drifted current one (odd orderkeys, every third
    customer's prices ×1.5, every fifth customer forced to 1-URGENT) —
    the ML-serving monitor that says whether a feature's distribution
    moved. Numeric features bucket by the REFERENCE's exact deciles
    (one scalar percentile agg, 9 doubles broadcast back); categorical
    features compare smoothed category shares. Terms round-then-
    DECIMAL-sum, so the report is engine-exact."""
    from walmart_project_etl_spark.operators.cleaning import psi_drift
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0) \
           .select("o_totalprice", "o_orderpriority")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_custkey") % 5 == 0, F.lit("1-URGENT"))
         .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"))
    return psi_drift(ref, cur, ["o_totalprice"], ["o_orderpriority"])


@q("dq_mwu_drift",
   """WITH ref AS (
        SELECT o_totalprice AS x FROM orders WHERE o_orderkey % 2 = 0),
      cur AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN o_totalprice * 1.5
                    ELSE o_totalprice END AS x
        FROM orders WHERE o_orderkey % 2 = 1),
      s AS (SELECT x, 1 AS r, 0 AS c FROM ref
            UNION ALL SELECT x, 0, 1 FROM cur),
      pv AS (SELECT x, sum(r) AS cr, sum(c) AS cc FROM s GROUP BY x),
      n AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM pv),
      cum AS (SELECT cr, cc,
                     sum(cr) OVER (ORDER BY x) AS kr,
                     sum(cc) OVER (ORDER BY x) AS kc FROM pv),
      m AS (SELECT cc, 2*(kr+kc) - (cr+cc) + 1 AS m2 FROM cum),
      r2 AS (SELECT sum(cc::DECIMAL(19,0) * m2::DECIMAL(19,0)) AS s2
             FROM m),
      uu AS (SELECT s2 - nc::DECIMAL(19,0)*(nc::DECIMAL(19,0)+1) AS u2,
                    nr, nc FROM r2, n)
      SELECT 'o_totalprice' AS feature,
             CAST(u2 AS DOUBLE)/2 AS u,
             round(CAST(CAST(u2 AS DOUBLE) / (2*nr::DOUBLE*nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE AS auc,
             nr::BIGINT AS n_ref, nc::BIGINT AS n_cur
      FROM uu""")
def dq_mwu_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample MANN-WHITNEY U / rank-sum drift
    (operators/cleaning.py:mwu_drift) on the dq_ks_drift fixture — the
    drift suite's SHIFT detector: auc = U/(n_ref·n_cur) is the
    probability a random current value beats a random reference value
    (ties half), 0.5 = no shift, directly interpretable where KS's max
    ECDF gap is shape-agnostic. Doubled midranks keep every tie
    computation in decimal integers (2·K_incl − t + 1), so the whole
    statistic is bit-exact and the oracle recomputes it. Same
    prefix-sum core as KS — one value-grain shuffle, bucketed
    cumsums."""
    from walmart_project_etl_spark.operators.cleaning import mwu_drift
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_totalprice")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"))
    return mwu_drift(ref, cur, ["o_totalprice"])


@q("dq_chisq_drift",
   """WITH ref AS (
        SELECT o_orderpriority AS b FROM orders WHERE o_orderkey % 2 = 0),
      cur AS (
        SELECT CASE WHEN o_custkey % 5 = 0 THEN '1-URGENT'
                    ELSE o_orderpriority END AS b
        FROM orders WHERE o_orderkey % 2 = 1),
      s AS (SELECT b, 1 AS r, 0 AS c FROM ref
            UNION ALL SELECT b, 0, 1 FROM cur),
      cnt AS (SELECT b, sum(r) AS cr, sum(c) AS cc FROM s
              WHERE b IS NOT NULL GROUP BY b),
      tot AS (SELECT sum(cr) AS nr, sum(cc) AS nc, count(*) AS k
              FROM cnt),
      t0 AS (SELECT cr, cc, nr, nc, k,
               nr::DOUBLE * (cr+cc)::DOUBLE / (nr+nc)::DOUBLE AS er,
               nc::DOUBLE * (cr+cc)::DOUBLE / (nr+nc)::DOUBLE AS ec
             FROM cnt, tot),
      t AS (SELECT
              round(CAST((cr::DOUBLE - er)*(cr::DOUBLE - er)/er
                    AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS tr,
              round(CAST((cc::DOUBLE - ec)*(cc::DOUBLE - ec)/ec
                    AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS tc,
              nr, nc, k
            FROM t0)
      SELECT 'o_orderpriority' AS feature,
             round(CAST(CAST(sum(tr)+sum(tc) AS DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE AS chisq,
             (any_value(k)-1)::INT AS dof,
             any_value(nr)::BIGINT AS n_ref,
             any_value(nc)::BIGINT AS n_cur
      FROM t""")
def dq_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample CHI-SQUARE homogeneity drift
    (operators/cleaning.py:chisq_drift) on dq_psi_drift's categorical
    fixture — the drift trio's third member (PSI = binned divergence
    with a fixed rule of thumb, KS = continuous nonparametric, chi² =
    the contingency-table statistic that scales with sample size and
    feeds a significance threshold). One category-grain count shuffle,
    scalar totals broadcast back, per-cell (O−E)²/E terms rounded to 9
    and DECIMAL-summed — exact SQL oracle."""
    from walmart_project_etl_spark.operators.cleaning import chisq_drift
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderpriority")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 5 == 0, F.lit("1-URGENT"))
         .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"))
    return chisq_drift(ref, cur, ["o_orderpriority"])


@q("dq_ks_drift",
   """WITH ref AS (
        SELECT o_totalprice AS x FROM orders WHERE o_orderkey % 2 = 0),
      cur AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN o_totalprice * 1.5
                    ELSE o_totalprice END AS x
        FROM orders WHERE o_orderkey % 2 = 1),
      s AS (SELECT x, 1 AS r, 0 AS c FROM ref
            UNION ALL SELECT x, 0, 1 FROM cur),
      pv AS (SELECT x, sum(r) AS cr, sum(c) AS cc FROM s GROUP BY x),
      n AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM pv),
      cum AS (SELECT sum(cr) OVER (ORDER BY x) AS kr,
                     sum(cc) OVER (ORDER BY x) AS kc FROM pv),
      d AS (SELECT max(abs(kr::DECIMAL(38,0) * nc
                           - kc::DECIMAL(38,0) * nr)) AS dn,
                   any_value(nr) AS nr, any_value(nc) AS nc
            FROM cum, n)
      SELECT 'o_totalprice' AS feature,
             round(CAST(CAST(dn AS DOUBLE) / (nr::DOUBLE * nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE AS ks,
             nr::BIGINT AS n_ref, nc::BIGINT AS n_cur
      FROM d""")
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift statistic
    (operators/cleaning.py:ks_drift) on dq_psi_drift's fixture — PSI's
    nonparametric sibling: D = max |ECDF_ref − ECDF_cur| over pooled
    distinct values, no binning choice to tune. Distributed exact-KS
    prefix-sum: one value-grain count shuffle, range-bucketed in-bucket
    cumsums (parallel windows) plus broadcast per-bucket offsets (the
    only single-partition step runs over the n_buckets-row totals
    frame); the maximized quantity is the INTEGER cross product
    |k_r·n_c − k_c·n_r| in decimal(38,0) — no floating point until the
    final divide, so the oracle recomputes it exactly."""
    from walmart_project_etl_spark.operators.cleaning import ks_drift
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_totalprice")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"))
    return ks_drift(ref, cur, ["o_totalprice"])


def _ks_block(i: int, feature: str, rx: str, cx: str) -> str:
    """One per-feature CTE chain of the exact-KS prefix-sum oracle
    (the dq_ks_drift SQL, suffixed so three features share one
    query)."""
    return f"""
      ref{i} AS (SELECT {rx} AS x FROM lineitem
                 WHERE l_orderkey % 2 = 0 AND {rx} IS NOT NULL),
      cur{i} AS (SELECT {cx} AS x FROM lineitem
                 WHERE l_orderkey % 2 = 1),
      s{i} AS (SELECT x, 1 AS r, 0 AS c FROM ref{i}
               UNION ALL SELECT x, 0, 1 FROM cur{i}),
      pv{i} AS (SELECT x, sum(r) AS cr, sum(c) AS cc FROM s{i}
                GROUP BY x),
      n{i} AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM pv{i}),
      cum{i} AS (SELECT sum(cr) OVER (ORDER BY x) AS kr,
                        sum(cc) OVER (ORDER BY x) AS kc FROM pv{i}),
      d{i} AS (SELECT max(abs(kr::DECIMAL(38,0) * nc
                              - kc::DECIMAL(38,0) * nr)) AS dn,
                      any_value(nr) AS nr, any_value(nc) AS nc
               FROM cum{i}, n{i}),
      o{i} AS (SELECT '{feature}' AS feature,
                      round(CAST(CAST(dn AS DOUBLE)
                            / (nr::DOUBLE * nc::DOUBLE)
                            AS DECIMAL(28,8)), 6)::DOUBLE AS ks,
                      nr::BIGINT AS n_ref, nc::BIGINT AS n_cur
               FROM d{i})"""


_MULTICOL_FEATURES = (
    ("l_quantity", "l_quantity",
     "l_quantity + (l_suppkey % 3)"),
    ("l_extendedprice", "l_extendedprice",
     "CASE WHEN l_partkey % 4 = 0 THEN l_extendedprice * 1.1 "
     "ELSE l_extendedprice END"),
    ("l_discount", "l_discount", "l_discount"),
)


_DRIFT_REPORT_ORACLE = """WITH ref AS (
        SELECT o_totalprice, o_orderpriority FROM orders
        WHERE o_orderkey % 2 = 0),
      cur AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN o_totalprice * 1.5
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_custkey % 5 = 0 THEN '1-URGENT'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1),
      e AS (SELECT quantile_cont(o_totalprice, 0.1) AS e0,
                   quantile_cont(o_totalprice, 0.2) AS e1,
                   quantile_cont(o_totalprice, 0.3) AS e2,
                   quantile_cont(o_totalprice, 0.4) AS e3,
                   quantile_cont(o_totalprice, 0.5) AS e4,
                   quantile_cont(o_totalprice, 0.6) AS e5,
                   quantile_cont(o_totalprice, 0.7) AS e6,
                   quantile_cont(o_totalprice, 0.8) AS e7,
                   quantile_cont(o_totalprice, 0.9) AS e8
            FROM ref),
      sides AS (
        SELECT 'r' AS side, o_totalprice AS x, o_orderpriority AS cat
        FROM ref
        UNION ALL
        SELECT 'c', o_totalprice, o_orderpriority FROM cur),
      nb AS (
        SELECT side,
               (CASE WHEN x >= e0 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e1 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e2 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e3 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e4 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e5 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e6 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e7 THEN 1 ELSE 0 END)
             + (CASE WHEN x >= e8 THEN 1 ELSE 0 END) AS b
        FROM sides, e WHERE x IS NOT NULL),
      numc AS (SELECT side, b, count(*) AS c FROM nb GROUP BY side, b),
      catc AS (SELECT side, cat AS b, count(*) AS c FROM sides
               WHERE cat IS NOT NULL GROUP BY side, cat),
      catk AS (SELECT count(DISTINCT cat)::DOUBLE AS k FROM sides
               WHERE cat IS NOT NULL),
      r1 AS (SELECT b, c AS cr FROM numc WHERE side = 'r'),
      c1 AS (SELECT b, c AS cc FROM numc WHERE side = 'c'),
      nr1 AS (SELECT sum(cr) AS nr FROM r1),
      nc1 AS (SELECT sum(cc) AS nc FROM c1),
      j1 AS (SELECT coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
             FROM r1 FULL JOIN c1 USING (b)),
      tm1 AS (
        SELECT round(CAST(
            ((cc + 1.0) / (nc + 10.0) - (cr + 1.0) / (nr + 10.0))
            * CAST(round(ln(((cc + 1.0) / (nc + 10.0))
                            / ((cr + 1.0) / (nr + 10.0))), 6)
                   AS DECIMAL(20,6))::DOUBLE
            AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS term, nr, nc
        FROM j1, nr1, nc1),
      r2 AS (SELECT b, c AS cr FROM catc WHERE side = 'r'),
      c2 AS (SELECT b, c AS cc FROM catc WHERE side = 'c'),
      nr2 AS (SELECT sum(cr) AS nr FROM r2),
      nc2 AS (SELECT sum(cc) AS nc FROM c2),
      j2 AS (SELECT coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
             FROM r2 FULL JOIN c2 USING (b)),
      tm2 AS (
        SELECT round(CAST(
            ((cc + 1.0) / (nc + k) - (cr + 1.0) / (nr + k))
            * CAST(round(ln(((cc + 1.0) / (nc + k))
                            / ((cr + 1.0) / (nr + k))), 6)
                   AS DECIMAL(20,6))::DOUBLE
            AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS term, nr, nc
        FROM j2, nr2, nc2, catk),
      t0c AS (SELECT cr, cc, nr, nc, k,
                nr::DOUBLE * (cr+cc)::DOUBLE / (nr+nc)::DOUBLE AS er,
                nc::DOUBLE * (cr+cc)::DOUBLE / (nr+nc)::DOUBLE AS ec
              FROM j2, nr2, nc2, (SELECT count(*) AS k FROM j2)),
      tc AS (SELECT
               round(CAST((cr::DOUBLE - er)*(cr::DOUBLE - er)/er
                     AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS tr,
               round(CAST((cc::DOUBLE - ec)*(cc::DOUBLE - ec)/ec
                     AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS tcc,
               nr, nc, k
             FROM t0c),
      pvk AS (SELECT x, sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END)
                        AS cr,
                     sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc
              FROM sides WHERE x IS NOT NULL GROUP BY x),
      nk AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM pvk),
      cumk AS (SELECT cr, cc,
                      sum(cr) OVER (ORDER BY x) AS kr,
                      sum(cc) OVER (ORDER BY x) AS kc FROM pvk),
      dk AS (SELECT max(abs(kr::DECIMAL(38,0) * nc
                            - kc::DECIMAL(38,0) * nr)) AS dn,
                    any_value(nr) AS nr, any_value(nc) AS nc
             FROM cumk, nk),
      mm AS (SELECT cc, 2*(kr+kc) - (cr+cc) + 1 AS m2 FROM cumk),
      rm AS (SELECT sum(cc::DECIMAL(19,0) * m2::DECIMAL(19,0)) AS s2
             FROM mm),
      um AS (SELECT s2 - nc::DECIMAL(19,0)*(nc::DECIMAL(19,0)+1)
                    AS u2, nr, nc FROM rm, nk)
      SELECT 'o_totalprice' AS feature, 'psi' AS statistic,
             round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(28,8)),
                   6)::DOUBLE AS value,
             CAST(any_value(nr) AS BIGINT) AS n_ref,
             CAST(any_value(nc) AS BIGINT) AS n_cur
      FROM tm1
      UNION ALL
      SELECT 'o_totalprice', 'ks',
             round(CAST(CAST(dn AS DOUBLE) / (nr::DOUBLE * nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE,
             nr::BIGINT, nc::BIGINT
      FROM dk
      UNION ALL
      SELECT 'o_totalprice', 'mwu_u', CAST(u2 AS DOUBLE)/2,
             nr::BIGINT, nc::BIGINT
      FROM um
      UNION ALL
      SELECT 'o_totalprice', 'mwu_auc',
             round(CAST(CAST(u2 AS DOUBLE) / (2*nr::DOUBLE*nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE,
             nr::BIGINT, nc::BIGINT
      FROM um
      UNION ALL
      SELECT 'o_orderpriority', 'psi',
             round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(28,8)),
                   6)::DOUBLE,
             CAST(any_value(nr) AS BIGINT), CAST(any_value(nc) AS BIGINT)
      FROM tm2
      UNION ALL
      SELECT 'o_orderpriority', 'chisq',
             round(CAST(CAST(sum(tr)+sum(tcc) AS DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE,
             any_value(nr)::BIGINT, any_value(nc)::BIGINT
      FROM tc
      UNION ALL
      SELECT 'o_orderpriority', 'chisq_dof',
             (any_value(k)-1)::DOUBLE,
             any_value(nr)::BIGINT, any_value(nc)::BIGINT
      FROM tc"""


@q("dq_drift_report", _DRIFT_REPORT_ORACLE)
def dq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STOP drift report (operators/cleaning.py:drift_report) on
    the dq_psi_drift fixture: PSI + KS + MWU for the numeric feature
    and PSI + chi-square for the categorical one, from SHARED
    shuffles — the numeric trio all derive from ONE (feature, value)
    count (KS/MWU via the cumulative frame, PSI's decile buckets
    aggregated from the same per-value counts), the categorical pair
    from ONE (feature, category) count. Two scans per side, two count
    shuffles, five statistics — vs five separate operators rebuilding
    the same frames. Long format (feature, statistic, value); every
    value bit-equal to the single-statistic operators (asserted in
    tests) and recomputed by the oracle."""
    from walmart_project_etl_spark.operators.cleaning import drift_report
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0) \
           .select("o_totalprice", "o_orderpriority")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_custkey") % 5 == 0, F.lit("1-URGENT"))
         .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"))
    return drift_report(ref, cur, ["o_totalprice"], ["o_orderpriority"])


@q("dq_drift_baseline_serve", _DRIFT_REPORT_ORACLE)
def dq_drift_baseline_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-SHAPE drift monitoring (operators/cleaning.py:
    persist_drift_baseline / drift_vs_baseline) — the
    build-once/serve-many pattern the ANN modules use, applied to
    drift: the reference side's SUFFICIENT STATISTICS (per-feature
    value counts, category counts, both percentile edge frames — all
    cardinality-bounded, never row-count-sized) persist once, and
    every monitoring pass scans ONLY the live side against the frozen
    artifact. Identical output to dq_drift_report on the same fixture
    — the oracle IS dq_drift_report's, and bit-equality with the
    two-sided pass is additionally asserted in tests. At 100 TB this
    is the difference between re-scanning the training corpus per
    monitoring run and reading a few thousand count rows.

    The baseline builds ONCE per (sf_dir, code version) — its content
    is deterministic (exact counts and percentile edges) — so repeat
    runs measure what production repeats: the serve pass (the ANN
    persisted entries' build_once pattern)."""
    import hashlib

    from walmart_project_etl_spark.operators.cleaning import (
        drift_vs_baseline, persist_drift_baseline)
    from .util import build_once
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0) \
           .select("o_totalprice", "o_orderpriority")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_custkey") % 5 == 0, F.lit("1-URGENT"))
         .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"))
    root = build_once(
        "drift_baseline_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
        lambda out: persist_drift_baseline(
            ref, ["o_totalprice"], ["o_orderpriority"], out))
    return drift_vs_baseline(spark, root, cur)


@q("dq_drift_timeline",
   """WITH refx AS (
        SELECT o_totalprice AS x FROM orders
        WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL),
      curx AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN o_totalprice * 1.5
                    ELSE o_totalprice END AS x,
               year(o_orderdate)::VARCHAR AS p
        FROM orders
        WHERE o_orderkey % 2 = 1 AND o_orderdate IS NOT NULL),
      curx2 AS (SELECT p, x FROM curx WHERE x IS NOT NULL),
      yrs AS (SELECT DISTINCT p FROM curx),
      s AS (SELECT y.p, r.x, 1 AS r, 0 AS c FROM yrs y CROSS JOIN refx r
            UNION ALL SELECT p, x, 0, 1 FROM curx2),
      pv AS (SELECT p, x, sum(r) AS cr, sum(c) AS cc FROM s
             GROUP BY p, x),
      n AS (SELECT p, sum(cr) AS nr, sum(cc) AS nc FROM pv GROUP BY p),
      cum AS (SELECT p, cr, cc,
                     sum(cr) OVER (PARTITION BY p ORDER BY x) AS kr,
                     sum(cc) OVER (PARTITION BY p ORDER BY x) AS kc
              FROM pv),
      d AS (SELECT c2.p,
                   max(abs(kr::DECIMAL(38,0) * n.nc
                           - kc::DECIMAL(38,0) * n.nr)) AS dn,
                   any_value(n.nr) AS nr, any_value(n.nc) AS nc
            FROM cum c2 JOIN n ON n.p = c2.p GROUP BY c2.p),
      m AS (SELECT p, cc, 2*(kr+kc) - (cr+cc) + 1 AS m2 FROM cum),
      rr2 AS (SELECT p, sum(cc::DECIMAL(19,0) * m2::DECIMAL(19,0))
                     AS s2 FROM m GROUP BY p),
      uu AS (SELECT rr2.p,
                    s2 - n.nc::DECIMAL(19,0)*(n.nc::DECIMAL(19,0)+1)
                    AS u2, n.nr, n.nc
             FROM rr2 JOIN n ON n.p = rr2.p),
      e AS (SELECT quantile_cont(x, 0.1) AS e0,
                   quantile_cont(x, 0.2) AS e1,
                   quantile_cont(x, 0.3) AS e2,
                   quantile_cont(x, 0.4) AS e3,
                   quantile_cont(x, 0.5) AS e4,
                   quantile_cont(x, 0.6) AS e5,
                   quantile_cont(x, 0.7) AS e6,
                   quantile_cont(x, 0.8) AS e7,
                   quantile_cont(x, 0.9) AS e8
            FROM refx),
      refb AS (SELECT b, count(*) AS cr FROM (
                 SELECT (CASE WHEN x >= e0 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e1 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e2 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e3 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e4 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e5 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e6 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e7 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e8 THEN 1 ELSE 0 END) AS b
                 FROM refx, e) GROUP BY b),
      curb AS (SELECT p, b, count(*) AS cc FROM (
                 SELECT p,
                        (CASE WHEN x >= e0 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e1 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e2 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e3 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e4 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e5 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e6 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e7 THEN 1 ELSE 0 END)
                      + (CASE WHEN x >= e8 THEN 1 ELSE 0 END) AS b
                 FROM curx2, e) GROUP BY p, b),
      jp AS (SELECT p, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
             FROM (SELECT y.p AS p, rb.b AS b, rb.cr AS cr
                   FROM yrs y CROSS JOIN refb rb) rr
             FULL JOIN curb USING (p, b)),
      np AS (SELECT p, sum(cr) AS nr, sum(cc) AS nc FROM jp
             GROUP BY p),
      tm AS (SELECT jp.p,
               round(CAST(
                 ((cc + 1.0) / (np.nc + 10.0)
                  - (cr + 1.0) / (np.nr + 10.0))
                 * CAST(round(ln(((cc + 1.0) / (np.nc + 10.0))
                                 / ((cr + 1.0) / (np.nr + 10.0))), 6)
                        AS DECIMAL(20,6))::DOUBLE
                 AS DECIMAL(28,12)), 9)::DECIMAL(20,9) AS term,
               np.nr, np.nc
             FROM jp JOIN np ON np.p = jp.p)
      SELECT p AS period, 'o_totalprice' AS feature,
             'psi' AS statistic,
             round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(28,8)),
                   6)::DOUBLE AS value,
             any_value(nr)::BIGINT AS n_ref,
             any_value(nc)::BIGINT AS n_cur
      FROM tm GROUP BY p
      UNION ALL
      SELECT p, 'o_totalprice', 'ks',
             round(CAST(CAST(dn AS DOUBLE) / (nr::DOUBLE * nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE,
             nr::BIGINT, nc::BIGINT
      FROM d
      UNION ALL
      SELECT p, 'o_totalprice', 'mwu_u', CAST(u2 AS DOUBLE)/2,
             nr::BIGINT, nc::BIGINT
      FROM uu
      UNION ALL
      SELECT p, 'o_totalprice', 'mwu_auc',
             round(CAST(CAST(u2 AS DOUBLE) / (2*nr::DOUBLE*nc::DOUBLE)
                   AS DECIMAL(28,8)), 6)::DOUBLE,
             nr::BIGINT, nc::BIGINT
      FROM uu""")
def dq_drift_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIFT TIMELINE (operators/cleaning.py:drift_timeline): WHEN did
    the price distribution drift? The odd-order live side slices by
    order YEAR and reports PSI/KS/MWU per (year, feature) against the
    frozen even-order baseline — the composite-key trick fuses
    period␟feature into one key so the whole report machinery runs at
    timeline grain in ONE live-side scan and one count shuffle (not
    one pass per period); the baseline's counts/edges replicate per
    period via a broadcast join with the timeline-length periods
    frame. Each period's rows are bit-equal to drift_vs_baseline on
    that period's slice (asserted in tests); the oracle recomputes
    every per-year statistic with partitioned windows."""
    import hashlib

    from walmart_project_etl_spark.operators.cleaning import (
        drift_timeline, persist_drift_baseline)
    from .util import build_once
    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_totalprice")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 3 == 0, F.col("o_totalprice") * 1.5)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate")
    root = build_once(
        "drift_baseline_num_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
        lambda out: persist_drift_baseline(ref, ["o_totalprice"], [],
                                           out))
    return drift_timeline(spark, root, cur, F.year("o_orderdate"))


@q("dq_drift_multicol",
   "WITH " + ",".join(_ks_block(i, f, rx, cx)
                      for i, (f, rx, cx) in
                      enumerate(_MULTICOL_FEATURES))
   + " SELECT * FROM o0 UNION ALL SELECT * FROM o1"
     " UNION ALL SELECT * FROM o2")
def dq_drift_multicol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN SINGLE-PASS drift (operators/cleaning.py:ks_drift
    via _melt_sides): a 3-feature monitoring pass over lineitem —
    quantity shifted by a supplier-keyed offset, extended price
    inflated for a quarter of parts, discount untouched (ks must come
    back 0) — rides ONE melted (feature, value) count shuffle and ONE
    scalar edges aggregation instead of one job per feature (the r14
    per-column fan-out this entry pins down: a 100-feature pass is now
    O(1) jobs). The oracle recomputes each feature's exact-KS integer
    cross product independently and unions the rows — per-feature
    equality with the per-column path is also asserted in
    tests/test_cleaning_profiling.py."""
    from walmart_project_etl_spark.operators.cleaning import ks_drift
    li = t(spark, sf_dir, "lineitem")
    ref = li.where(F.col("l_orderkey") % 2 == 0) \
            .select("l_quantity", "l_extendedprice", "l_discount")
    cur = li.where(F.col("l_orderkey") % 2 == 1).select(
        (F.col("l_quantity") + F.col("l_suppkey") % 3)
        .alias("l_quantity"),
        F.when(F.col("l_partkey") % 4 == 0,
               F.col("l_extendedprice") * 1.1)
         .otherwise(F.col("l_extendedprice"))
         .alias("l_extendedprice"),
        "l_discount")
    return ks_drift(ref, cur,
                    ["l_quantity", "l_extendedprice", "l_discount"])


@q("txn_agg_mv_join",
   """WITH final AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT md5(c.c_mktsegment) AS mv_key, c.c_mktsegment,
             count(*) AS n_rows,
             round(sum(CAST(price AS DECIMAL(28,6))), 2)::DOUBLE AS total
      FROM final f JOIN customer c ON c.c_custkey = f.o_custkey
      GROUP BY c.c_mktsegment""")
def txn_agg_mv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-AGGREGATE materialized view (the star-rollup MV): revenue
    by customer MARKET SEGMENT — a group column that lives in the
    DIMENSION, not the fact. The maintenance loop is txn_agg_mv's
    (three CDF folds across append / conditional merge / delete, one
    conditional merge per refresh, exactly-once txn watermarks); the
    ``enrich`` hook broadcast-joins each change slice to the static
    customer dim BEFORE the delta fold, which keeps the delta rule
    exact because the join is row-wise 1:1 on a NOT-NULL FK. At 100 TB
    the per-refresh cost is still O(changed fact rows) × one broadcast
    probe — the fact is never re-scanned, the dim never shuffled. The
    oracle recomputes the final join-aggregate from scratch."""
    import shutil

    from walmart_project_etl_spark.operators.matview import refresh_agg_mv
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_mvj")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_mv", ignore_errors=True)

    def enrich(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(cust), "o_custkey")

    src = TxTable(spark, root)
    src.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
               n_files=4, change_feed=True)
    refresh_agg_mv(spark, src, root + "_mv", ["c_mktsegment"],
                   "o_totalprice", enrich=enrich)
    src.append(o.where(F.col("o_orderkey") % 2 == 1))
    src.merge_upsert(o.where(F.col("o_orderkey") % 30 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 3))
    refresh_agg_mv(spark, src, root + "_mv", ["c_mktsegment"],
                   "o_totalprice", enrich=enrich)
    src.delete_keys(o.where(F.col("o_orderkey") % 7 == 0)
                    .select("o_orderkey"))
    mv = refresh_agg_mv(spark, src, root + "_mv", ["c_mktsegment"],
                        "o_totalprice", enrich=enrich)
    return mv.snapshot().select(
        "mv_key", "c_mktsegment", "n_rows",
        F.round(F.col("total"), 2).cast("double").alias("total"))


@q("txn_cdf_scd2_history",
   """WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 2 = 0),
      upd AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
                     o_orderstatus
              FROM base WHERE o_orderkey % 40 = 0),
      del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 100 = 0),
      ev AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               0::BIGINT AS v, 'open' AS kind FROM base
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus, 1, 'open'
        FROM upd
        UNION ALL
        SELECT o_orderkey, NULL, NULL, 2, 'close' FROM del)
      SELECT o_orderkey, o_totalprice, o_orderstatus,
             v AS eff_from,
             lead(v) OVER (PARTITION BY o_orderkey ORDER BY v) AS eff_to,
             lead(v) OVER (PARTITION BY o_orderkey ORDER BY v) IS NULL
               AS is_current
      FROM ev QUALIFY kind = 'open'""")
def txn_cdf_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 HISTORY derived from the table's own change feed
    (operators/scd2.py:scd2_from_changes): create (v0) → price merge
    (v1) → keyed delete (v2), then the CDF slice folds into the full
    versioned dimension — [eff_from, eff_to) in SOURCE COMMIT VERSIONS,
    so the history is deterministic and replayable (no processing-time
    stamps). One window per key over the feed events; the oracle
    reconstructs the same event algebra from the known batch
    definitions. At 100 TB the fold cost is O(changed rows), and the
    history appends incrementally batch after batch."""
    import shutil

    from walmart_project_etl_spark.operators.scd2 import scd2_from_changes
    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice",
                                          "o_orderstatus")
    base = o.where(F.col("o_orderkey") % 2 == 0)
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_scd2cdf")
    shutil.rmtree(root, ignore_errors=True)
    src = TxTable(spark, root)
    src.create(base, "o_orderkey", n_files=4, change_feed=True)
    src.merge_upsert(base.where(F.col("o_orderkey") % 40 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 2))
    src.delete_keys(base.where(F.col("o_orderkey") % 100 == 0)
                    .select("o_orderkey"))
    changes = src.read_changes(since_version=1)
    return scd2_from_changes(src.snapshot(0), changes, "o_orderkey",
                             ["o_totalprice", "o_orderstatus"])


@q("s12_orc_roundtrip",
   """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
             o_orderstatus
      FROM orders""")
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: orders → ORC files (zlib,
    Spark-native vectorized writer) → scan, value-identical to the
    parquet original. ORC is the other columnar interchange format a
    warehouse migration meets (Hive/Trino estates); predicate pushdown
    and column pruning work through the same DataSource V2 scan path
    as parquet — the oracle proves the type round-trip (dates,
    decimals-as-doubles, strings) is lossless."""
    import hashlib
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        "o_orderstatus")
    path = os.path.join(tempfile.gettempdir(),
                        "wpe_orc_roundtrip_"
                        + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    o.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@q("stream_scd2_follow",
   """WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 2 = 0),
      upd AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
                     o_orderstatus
              FROM base WHERE o_orderkey % 40 = 0),
      del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 100 = 0),
      ev AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               0::BIGINT AS v, 'open' AS kind FROM base
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus, 1, 'open'
        FROM upd
        UNION ALL
        SELECT o_orderkey, NULL, NULL, 2, 'close' FROM del)
      SELECT o_orderkey, o_totalprice, o_orderstatus,
             v AS eff_from,
             lead(v) OVER (PARTITION BY o_orderkey ORDER BY v) AS eff_to,
             lead(v) OVER (PARTITION BY o_orderkey ORDER BY v) IS NULL
               AS is_current
      FROM ev QUALIFY kind = 'open'""")
def stream_scd2_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 replica (streaming/jobs.py:stream_scd2_history):
    the change feed of create → merge → delete drains through the
    Structured-Streaming CDF source into an incrementally-maintained
    history table — per batch one event window, one key-bloom-pruned
    read of affected current rows, ONE exactly-once merge. Commit-
    version effective dating makes the result independent of how the
    stream batches the commits, so the oracle is the SAME event
    algebra as the batch twin (txn_cdf_scd2_history) — green proves
    batch/stream equivalence end-to-end."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable
    from walmart_project_etl_spark.streaming.jobs import \
        stream_scd2_history

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice",
                                          "o_orderstatus")
    base = o.where(F.col("o_orderkey") % 2 == 0)
    root = os.path.join(tempfile.gettempdir(), "wpe_stream_scd2")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_hist", ignore_errors=True)
    src = TxTable(spark, root)
    src.create(base, "o_orderkey", n_files=4, change_feed=True)
    src.merge_upsert(base.where(F.col("o_orderkey") % 40 == 0)
                     .withColumn("o_totalprice",
                                 F.col("o_totalprice") * 2))
    src.delete_keys(base.where(F.col("o_orderkey") % 100 == 0)
                    .select("o_orderkey"))
    hist = stream_scd2_history(spark, root, root + "_hist")
    return hist.snapshot().select("o_orderkey", "o_totalprice",
                                  "o_orderstatus", "eff_from", "eff_to",
                                  "is_current")


@q("txn_partition_evolution",
   """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
             o_custkey % 3 AS band
      FROM orders""")
def txn_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION (sources/txlog.py:alter_partitioning —
    Iceberg's layout-change feature, conservative-reader variant):
    half the table lands partitioned by status, the layout evolves to
    a customer band in ONE metadata-only commit, the other half lands
    under the NEW scheme (stamped ``pby``), a band-pruned read stays
    EXACT across the mixed layouts (old files conservatively scanned
    behind the residual filter), and compact() materializes the
    migration so every live file prunes under the new scheme. The
    commit stamps the partition_evolution reader feature — a
    pre-evolution reader fences out instead of wrongly skipping
    old-layout files. Oracle: the full table — proving no row was
    lost or duplicated across the evolution + migration."""
    import shutil

    from walmart_project_etl_spark.sources.txlog import TxTable

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        (F.col("o_custkey") % 3).alias("band"))
    root = os.path.join(tempfile.gettempdir(), "wpe_txn_pevo")
    shutil.rmtree(root, ignore_errors=True)
    tt = TxTable(spark, root)
    tt.create(o.where(F.col("o_orderkey") % 2 == 0), "o_orderkey",
              partition_by="o_orderstatus", n_files=4)
    tt.alter_partitioning(["band"])
    tt.append(o.where(F.col("o_orderkey") % 2 == 1))
    # band-pruned read across mixed layouts must be exact
    n_band1 = tt.read_partitions([1]).count()
    expect = o.where(F.col("band") == 1).count()
    if n_band1 != expect:
        raise ValueError(f"evolution read drift: {n_band1} != {expect}")
    tt.compact(target_rows=10 ** 6)
    return tt.snapshot().select("o_orderkey", "o_custkey",
                                "o_totalprice", "o_orderstatus", "band")


@q("dq_quarantine_split",
   """WITH src AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE o_custkey END AS o_custkey,
               CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 83 = 0 THEN 'Z'
                    ELSE o_orderstatus END AS o_orderstatus
        FROM orders),
      tagged AS (
        SELECT *,
               CASE WHEN o_custkey IS NULL THEN 'custkey_not_null'
                    WHEN o_totalprice <= 0 THEN 'price_positive'
                    WHEN o_orderstatus NOT IN ('O','F','P')
                      THEN 'status_accepted'
               END AS dq_reason
        FROM src)
      SELECT 'clean' AS side, count(*) AS n_rows,
             count(DISTINCT dq_reason) AS n_reasons
      FROM tagged WHERE dq_reason IS NULL
      UNION ALL
      SELECT 'quarantine:' || dq_reason, count(*),
             1 FROM tagged WHERE dq_reason IS NOT NULL
      GROUP BY dq_reason""")
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation ROUTING (the DLT expect_or_quarantine pattern,
    operators/cleaning.py:split_expectations): a corrupted feed (nulled
    FKs, negated prices, invalid statuses injected deterministically)
    splits in ONE pass into the clean side and a per-reason quarantine
    — first-failing-check tagging via a chained when expression, no
    shuffle, no row lost or double-counted (the oracle's clean+
    quarantine counts reconcile to the source exactly). At 100 TB this
    is the ingest-gate shape: both sides stream straight into their
    respective tables without a rescan."""
    from walmart_project_etl_spark.operators.cleaning import \
        split_expectations
    o = t(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, None)
         .otherwise(F.col("o_custkey")).alias("o_custkey"),
        F.when(F.col("o_orderkey") % 89 == 0, -F.col("o_totalprice"))
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 83 == 0, "Z")
         .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"))
    checks = [
        ("custkey_not_null", F.col("o_custkey").isNotNull()),
        ("price_positive", F.col("o_totalprice") > 0),
        ("status_accepted", F.col("o_orderstatus").isin("O", "F", "P")),
    ]
    clean, quar = split_expectations(src, checks)
    clean_row = clean.agg(
        F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("clean").alias("side"), "n_rows",
        F.lit(0).cast("long").alias("n_reasons"))
    quar_rows = (quar.groupBy("dq_reason")
                 .agg(F.count(F.lit(1)).alias("n_rows"))
                 .select(F.concat(F.lit("quarantine:"),
                                  F.col("dq_reason")).alias("side"),
                         "n_rows",
                         F.lit(1).cast("long").alias("n_reasons")))
    return clean_row.unionByName(quar_rows)
