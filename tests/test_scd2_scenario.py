"""The reference's SCD2 two-run scenario (its only change-over-time test):
run the pipeline on ``scd_test_corrected.csv`` then ``scd_test_2.csv``
(same 3 orders with mutated Unit Price / State / Ship Date,
reference ``config.py:27-52``) — changed products/stores must expire v1
and insert v2; SCD1 dims must update in place.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from walmart_project_etl_spark.queries.pipeline import REFERENCE_DATA_DIR

V1 = os.path.join(REFERENCE_DATA_DIR, "scd_test_corrected.csv")
V2 = os.path.join(REFERENCE_DATA_DIR, "scd_test_2.csv")


@pytest.fixture(scope="module")
def two_runs(spark, tmp_path_factory):
    from walmart_project_etl_spark.pipeline import run_pipeline
    for path in (V1, V2):
        if not os.path.exists(path):
            pytest.skip(f"{path} absent")
    root = str(tmp_path_factory.mktemp("wpe_scd2"))
    # tiny fixtures violate the volume gates by design — disable for this test
    run_pipeline(spark, V1, root, run_date="2025-01-01", batch_id="R1",
                 enforce_quality=False)
    tgt = run_pipeline(spark, V2, root, run_date="2025-02-01", batch_id="R2",
                       enforce_quality=False)
    return tgt


def test_product_versions_bumped(two_runs):
    """All 3 products changed Unit Price (2.73→291.73, 5.98→51.98,
    51.99→5.99) → each gets an expired v1 + current v2."""
    p = two_runs["tgt_dim_product"]
    assert p.count() == 6
    assert p.where("is_current").count() == 3
    v2 = {r["product_id"]: r for r in p.where("version = 2").collect()}
    assert len(v2) == 3
    for r in v2.values():
        assert r["is_current"] is True
        assert str(r["effective_date"]) == "2025-02-01"
        assert str(r["expiry_date"]) == "9999-12-31"
    expired = p.where("version = 1").collect()
    for r in expired:
        assert r["is_current"] is False
        assert str(r["expiry_date"]) == "2025-01-31"  # run2 - 1 day


def test_store_versions_track_state_change(two_runs):
    """Napa: Texas→California and Claremont: KTM→California changed; Leander
    Utah→Texas changed; all 3 stores get v2."""
    s = two_runs["tgt_dim_store"]
    assert s.where("version = 2 AND is_current").count() == 3
    states = {r["store_id"]: r["state"]
              for r in s.where("is_current").collect()}
    assert sorted(states.values()) == ["California", "California", "Texas"]


def test_scd1_customer_updated_in_place(two_runs):
    c = two_runs["tgt_dim_customer"]
    assert c.count() == 3  # no versioning — same 3 customers
    # modification_date bumped only where attributes changed (none here —
    # customer attrs identical across the two files except location state?
    # state lives on store, not customer mode-location: city/state/zip from
    # CSV rows — State changed → customer location state changes too)
    mods = {r["customer_name"]: str(r["modification_date"])[:10]
            for r in c.collect()}
    assert mods["Alan Schoenberger"] == "2025-02-01"  # state Texas→California


def test_sales_fact_uses_current_version_keys(two_runs):
    """Facts loaded in run 2 resolve product keys inside the v2 validity
    window (transaction dates are 2012 → they fall in v1's backfilled
    window [2000-01-01, 2025-01-31]!). The reference has the same temporal
    behavior: historical facts resolve to the version valid at their date."""
    f = two_runs["tgt_fact_sales"]
    p = two_runs["tgt_dim_product"].select("product_key", "version")
    got = (f.join(p, "product_key").groupBy("version")
           .agg(F.count(F.lit(1)).alias("n")).collect())
    versions = {r["version"]: r["n"] for r in got}
    # Two batches (R1+R2) each appended 3 rows — D3 append semantics across
    # distinct batch ids. All 2012 transaction dates fall inside v1's
    # [2000-01-01 .. 2025-01-31] validity window, so every row resolves to
    # version 1 even though version 2 is current.
    assert versions == {1: 6}
