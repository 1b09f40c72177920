"""End-to-end pipeline golden tests on the reference CSV.

Golden values are CSV-derived (the reference's BUSINESS_REQUIREMENTS.md
numbers do not match its own data — VERDICT r1 §wrong-6): 8,399 sales rows;
sum(Sales)=14,915,600.82; sum(Profit)=1,521,767.96; sum(Qty)=214,777.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.queries.pipeline import REFERENCE_CSV as CSV


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    from walmart_project_etl_spark.pipeline import run_pipeline
    if not os.path.exists(CSV):
        pytest.skip(f"{CSV} absent")
    root = str(tmp_path_factory.mktemp("wpe_golden"))
    tgt = run_pipeline(spark, CSV, root, run_date="2025-01-01", batch_id="T1")
    return root, tgt


def test_sales_row_preservation(warehouse):
    _, tgt = warehouse
    assert tgt["tgt_fact_sales"].count() == 8399


def test_kpi_golden_sums(warehouse):
    _, tgt = warehouse
    row = tgt["tgt_fact_sales"].agg(
        F.round(F.sum(F.col("sales_amount").cast("decimal(28,6)")), 2).alias("s"),
        F.round(F.sum(F.col("profit").cast("decimal(28,6)")), 2).alias("p"),
        F.sum("order_quantity").alias("q")).collect()[0]
    # sums of the DECIMAL(12,2) warehouse values (penny-rounded per line)
    assert abs(float(row["s"]) - 14915600.82) < 1.0
    assert abs(float(row["p"]) - 1521767.96) < 0.5
    assert row["q"] == 214777


def test_dim_cardinalities(warehouse):
    _, tgt = warehouse
    assert tgt["tgt_dim_date"].count() == 1459
    assert tgt["tgt_dim_customer"].count() == 795
    assert tgt["tgt_dim_supplier"].count() == 20
    assert tgt["tgt_dim_return_reason"].count() == 10
    assert tgt["tgt_dim_product"].count() == 1263   # distinct product names
    assert tgt["tgt_dim_store"].count() == 1421     # distinct cities


def test_fact_keys_fully_resolved(warehouse):
    _, tgt = warehouse
    f = tgt["tgt_fact_sales"]
    for col in ("transaction_date_key", "product_key", "store_key", "customer_key"):
        assert f.where(F.col(col).isNull()).count() == 0, col


def test_volume_gates(warehouse, spark):
    root, _ = warehouse
    from walmart_project_etl_spark.quality import fk_checks, volume_checks
    from walmart_project_etl_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, root)
    ods = {name: wh.read("ods", name) for name in (
        "ods_date", "ods_customer", "ods_product", "ods_store", "ods_supplier",
        "ods_return_reason", "ods_sales", "ods_returns", "ods_inventory")}
    assert all(r["passed"] for r in fk_checks(spark, ods).collect())
    vols = {r["check"]: r["passed"] for r in volume_checks(spark, ods).collect()}
    assert vols["min_sales_volume"] and vols["min_product_count"]
    assert vols["min_store_count"] and vols["min_returns_months"]


def test_quality_catches_violation(spark):
    from walmart_project_etl_spark.quality import fk_checks
    ods = {
        "ods_sales": spark.createDataFrame(
            [("S1", "P1", "ST1", "C1", "2012-01-02")],
            "sale_id string, product_id string, store_id string, "
            "customer_id string, d string")
        .select("*", F.col("d").cast("date").alias("transaction_date")).drop("d"),
        "ods_product": spark.createDataFrame(
            [("P_OTHER", "SUP1")], "product_id string, supplier_id string"),
        "ods_store": spark.createDataFrame([("ST1",)], "store_id string"),
        "ods_customer": spark.createDataFrame([("C1",)], "customer_id string"),
        "ods_date": spark.createDataFrame([(20120102,)], "date_id int"),
        "ods_supplier": spark.createDataFrame([("SUP1",)], "supplier_id string"),
        "ods_return_reason": spark.createDataFrame([("R1",)], "reason_code string"),
        "ods_returns": spark.createDataFrame(
            [("S1", "R1", "P_OTHER", "ST1")],
            "original_sale_id string, reason_code string, product_id string, store_id string"),
        "ods_inventory": spark.createDataFrame(
            [("P_OTHER", "ST1")], "product_id string, store_id string"),
    }
    results = {r["check"]: r["passed"] for r in fk_checks(spark, ods).collect()}
    assert results["sales_product_fk"] is False   # P1 not in dim
    assert results["sales_store_fk"] is True
