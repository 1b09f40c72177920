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


def _mini_ods(spark, **rows):
    """FK-only ODS frames that pass every FK check; ``rows`` replaces a
    table's rows to break one check."""
    data = {
        "ods_sales": [("S1", "P1", "ST1", "C1", "2012-01-02")],
        "ods_product": [("P1", "SUP1")],
        "ods_store": [("ST1",)],
        "ods_customer": [("C1",)],
        "ods_date": [(20120102,)],
        "ods_supplier": [("SUP1",)],
        "ods_return_reason": [("R1",)],
        "ods_returns": [("S1", "R1", "P1", "ST1")],
        "ods_inventory": [("P1", "ST1")],
    } | rows
    schemas = {
        "ods_sales": "sale_id string, product_id string, store_id string, "
                     "customer_id string, d string",
        "ods_product": "product_id string, supplier_id string",
        "ods_store": "store_id string",
        "ods_customer": "customer_id string",
        "ods_date": "date_id int",
        "ods_supplier": "supplier_id string",
        "ods_return_reason": "reason_code string",
        "ods_returns": "original_sale_id string, reason_code string, "
                       "product_id string, store_id string",
        "ods_inventory": "product_id string, store_id string",
    }
    ods = {n: spark.createDataFrame(data[n], schemas[n]) for n in data}
    ods["ods_sales"] = ods["ods_sales"].select(
        "*", F.col("d").cast("date").alias("transaction_date")).drop("d")
    return ods


def test_quality_catches_violation(spark):
    from walmart_project_etl_spark.quality import fk_checks
    # each case breaks exactly one FK check; NULL keys count as violations
    cases = {
        None: {},
        "sales_product_fk": {"ods_sales": [("S1", "P2", "ST1", "C1", "2012-01-02")]},
        "sales_store_fk": {"ods_sales": [("S1", "P1", None, "C1", "2012-01-02")]},
        "sales_customer_fk": {"ods_sales": [("S1", "P1", "ST1", "C2", "2012-01-02")]},
        "sales_date_fk": {"ods_sales": [("S1", "P1", "ST1", "C1", "2012-01-03")]},
        "product_supplier_fk": {"ods_product": [("P1", "SUP2")]},
        "returns_sale_fk": {"ods_returns": [("S2", "R1", "P1", "ST1")]},
        "returns_reason_fk": {"ods_returns": [("S1", None, "P1", "ST1")]},
        "inventory_product_store_fk": {"ods_inventory": [("P1", "ST1"),
                                                         ("P2", "ST2")]},
    }
    for broken, rows in cases.items():
        results = {r["check"]: (r["value"], r["passed"])
                   for r in fk_checks(spark, _mini_ods(spark, **rows)).collect()}
        assert len(results) == 8
        expected = {name: (0, True) for name in results}
        if broken is not None:
            expected[broken] = (2 if broken.startswith("inventory") else 1,
                                False)
        assert results == expected, broken


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution. Ids are sequential; the store's
    execution count is not a counter, it stops at the retained maximum."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList(max(store.executionsCount() - 1, 0), 1)
    return last.apply(0).executionId() if last.size() else -1


def test_assert_quality_is_one_query_naming_failed_volume_checks(spark):
    from walmart_project_etl_spark.quality import assert_quality
    ods = _mini_ods(spark)
    ods["ods_returns"] = ods["ods_returns"].withColumn(
        "return_date", F.lit("2012-01-02").cast("date"))
    ods["ods_inventory"] = ods["ods_inventory"].withColumn(
        "inventory_date", F.lit("2012-01-02").cast("date"))
    before = _last_execution_id(spark)
    with pytest.raises(AssertionError) as err:
        assert_quality(spark, ods)
    assert _last_execution_id(spark) - before == 1
    assert str(err.value) == (
        "quality checks failed: ['min_sales_volume', 'min_product_count', "
        "'min_store_count', 'min_returns_months']")
