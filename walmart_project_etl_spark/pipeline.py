"""End-to-end pipeline orchestration: the Spark equivalent of the
reference's Airflow DAG (``dags/walmart_etl_pipeline_dag.py:330``):

    create ODS → load ODS → create staging → load staging →
    create target → load target → clear staging

Each Airflow task collapses to a stage function; stage boundaries are
parquet writes (the cluster-distribution unit Catalyst plans around).
``run_date`` and the hash seed are injected so every run is bit-identical
(replaces the reference's import-time ``datetime.now()`` batch ids,
``etl_staging_loader.py:47``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from walmart_project_etl_spark.orchestrate import pipeline_stages, run_stages
from walmart_project_etl_spark.sources.catalog import Warehouse

TARGET_TABLES = ("tgt_dim_date", "tgt_dim_customer", "tgt_dim_supplier",
                 "tgt_dim_return_reason", "tgt_dim_product", "tgt_dim_store",
                 "tgt_fact_sales", "tgt_fact_returns", "tgt_fact_inventory")


def _parallel_writes(writes) -> None:
    """Submit independent table writes concurrently (the reference DAG's
    "parallel dimension loading", `ETL_IMPLEMENTATION_DETAILS.md:120-135` —
    named there, implemented here). Spark's scheduler interleaves jobs
    submitted from separate threads, so independent writes overlap their
    scan/shuffle/commit phases instead of serializing; exceptions
    propagate to the caller."""
    from concurrent.futures import ThreadPoolExecutor

    writes = list(writes)
    with ThreadPoolExecutor(max_workers=min(8, max(len(writes), 1))) as ex:
        for _ in ex.map(lambda fn: fn(), writes):
            pass


def run_pipeline(spark: SparkSession, csv_path: str, warehouse_root: str,
                 run_date: str, batch_id: str, seed: int = 42,
                 enforce_quality: bool = True,
                 clear_staging: bool = False) -> dict[str, DataFrame]:
    """One full daily run: the stages of
    :func:`orchestrate.pipeline_stages`, without retries or resume markers
    (a failing stage raises :class:`orchestrate.StageFailure`). Returns the
    target-layer DataFrames (read back from the warehouse, so callers see
    exactly what was persisted)."""
    run_stages(pipeline_stages(spark, csv_path, warehouse_root, run_date,
                               batch_id, seed=seed,
                               enforce_quality=enforce_quality,
                               clear_staging=clear_staging), retries=0)
    wh = Warehouse(spark, warehouse_root)
    return {name: wh.read("tgt", name) for name in TARGET_TABLES}
