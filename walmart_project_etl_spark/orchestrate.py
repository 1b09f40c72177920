"""In-repo scheduler primitives: stage-level retry + marker-based resume.

The reference delegates failure handling to Airflow — every DAG task runs
with ``retries`` and ``retry_delay`` (``dags/walmart_etl_pipeline_dag.py:
254-264``) and a re-triggered DAG run restarts from the failed task. This
module provides the same semantics without an external scheduler, so a
bare ``cron`` entry (or a driver invoking :func:`run_pipeline_resumable`)
gets scheduler-grade behavior:

- **Per-stage retry**: each stage is attempted ``1 + retries`` times with
  ``retry_delay_s`` between attempts (transient-failure class: lost
  cluster, object-store 503s, speculative-task storms Spark itself gave
  up on).
- **Resume**: each completed stage writes a marker keyed by
  (run_date, batch_id); re-running the same logical day skips completed
  stages and continues from the failure point — Airflow's
  "clear failed task and re-run" without the metadata DB. ``force=True``
  reprocesses from scratch.

Safe because every stage is idempotent and reloads its inputs from the
warehouse rather than from memory: ODS/staging writes are overwrites,
fact appends are overwrite-by-batch, SCD merges are deterministic on
(prior state, input), and the target layer lands via the Warehouse
stage/commit two-phase swap — a crash mid-commit leaves either the old
or the new table, never a half state. Re-running a stage converges to
the same bytes (the reference documents duplicate-on-rerun as a known
flaw instead, ``etl_target_loader.py:1023-1030``).

Marker files are orchestration *metadata* (the stand-in for Airflow's
task-state table), not warehouse table data — table files only ever move
through ``sources.catalog.Warehouse``.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Stage:
    """One pipeline step: a name and a zero-arg idempotent action."""

    name: str
    action: Callable[[], None]


class StageFailure(RuntimeError):
    """A stage exhausted its retries; carries the stage name + attempts."""

    def __init__(self, stage: str, attempts: int, cause: BaseException):
        super().__init__(
            f"stage '{stage}' failed after {attempts} attempt(s): "
            f"{type(cause).__name__}: {cause}")
        self.stage = stage
        self.attempts = attempts
        self.cause = cause


def run_stages(stages: list[Stage], *, retries: int = 1,
               retry_delay_s: float = 0.0, state_dir: str | None = None,
               force: bool = False,
               on_event: Callable[[str, str, int], None] | None = None) -> list[str]:
    """Run ``stages`` in order with per-stage retry and optional resume.

    ``state_dir``: when given, a ``_DONE_<stage>`` marker is written after
    each success; a later call with the same ``state_dir`` skips marked
    stages (resume-from-failure). ``force`` clears markers first.
    ``on_event(kind, stage, attempt)`` observes 'skip'/'start'/'retry'/
    'done' transitions (hook for logging/metrics).

    Returns the names of stages actually executed (skipped ones excluded).
    """
    def marker(name: str) -> str:
        assert state_dir is not None
        return os.path.join(state_dir, f"_DONE_{name}")

    if state_dir is not None:
        os.makedirs(state_dir, exist_ok=True)
        if force:
            for s in stages:
                if os.path.exists(marker(s.name)):
                    os.remove(marker(s.name))

    emit = on_event or (lambda kind, stage, attempt: None)
    ran: list[str] = []
    for s in stages:
        if state_dir is not None and not force and os.path.exists(marker(s.name)):
            emit("skip", s.name, 0)
            continue
        attempts = 0
        while True:
            attempts += 1
            emit("start" if attempts == 1 else "retry", s.name, attempts)
            try:
                s.action()
                break
            except Exception as e:  # noqa: BLE001 — retry boundary
                if attempts > retries:
                    raise StageFailure(s.name, attempts, e) from e
                if retry_delay_s > 0:
                    time.sleep(retry_delay_s)
        if state_dir is not None:
            open(marker(s.name), "w").close()
        emit("done", s.name, attempts)
        ran.append(s.name)
    return ran


def pipeline_stages(spark: SparkSession, csv_path: str, warehouse_root: str,
                    run_date: str, batch_id: str, seed: int = 42,
                    enforce_quality: bool = True,
                    clear_staging: bool = False) -> list[Stage]:
    """Decompose the daily run into the reference DAG's task boundaries.

    Every stage RELOADS its inputs from the warehouse, so any stage can
    run in a fresh process — the property resume needs.

    Staging and target load in two waves, dims before facts: the dims
    are written first, read back, and the facts resolve their keys
    against the written files. Built over the dims' lazy plans instead,
    every fact write would re-run the dim plans inside its broadcasts
    (the staging key-map dedups; the target SCD1 merges and SCD2
    applies). The target dims are staged into ``<table>__new`` and the
    facts read those; all nine target tables are committed together
    after both waves, so the two-phase swap is unchanged. ODS loads in
    one wave: read back from parquet its dims would be all-nullable,
    which changes the footer schema, and so the bytes, that
    ``ods_returns`` and ``ods_inventory`` write.
    """
    from walmart_project_etl_spark.pipeline import (TARGET_TABLES,
                                                    _parallel_writes)
    from walmart_project_etl_spark.plans.ods import build_ods
    from walmart_project_etl_spark.plans.staging import (build_staging_dims,
                                                         build_staging_facts)
    from walmart_project_etl_spark.plans.target import (build_target_dims,
                                                        build_target_facts)
    from walmart_project_etl_spark.quality import assert_quality
    from walmart_project_etl_spark.schemas import ODS_SCHEMAS, STG_SCHEMAS
    from walmart_project_etl_spark.sources.catalog import Warehouse
    from walmart_project_etl_spark.sources.ingest import read_source_csv

    wh = Warehouse(spark, warehouse_root)
    ODS_TABLES, STG_TABLES = tuple(ODS_SCHEMAS), tuple(STG_SCHEMAS)

    def write_all(write, frames: dict[str, DataFrame]) -> None:
        _parallel_writes(
            (lambda n=n, d=d: write(n, d)) for n, d in frames.items())

    def load_ods() -> None:
        src = read_source_csv(spark, csv_path)
        write_all(lambda n, d: wh.write("ods", n, d),
                  build_ods(spark, src, run_date=run_date, seed=seed))

    def validate_ods() -> None:
        if enforce_quality:
            assert_quality(spark, {n: wh.read("ods", n) for n in ODS_TABLES})

    def load_staging() -> None:
        ods = {n: wh.read("ods", n) for n in ODS_TABLES}
        dims = build_staging_dims(ods, batch_id, run_date)
        write_all(lambda n, d: wh.write("stg", n, d), dims)
        dims = {n: wh.read("stg", n) for n in dims}
        write_all(lambda n, d: wh.write("stg", n, d),
                  build_staging_facts(ods, dims, batch_id, run_date))

    def load_target() -> None:
        # a prior run may have died between stage_new and commit_staged;
        # its orphaned __new dirs are uncommitted by construction and
        # this run re-stages every table, so clear them first.
        # SINGLE-WRITER assumption (documented on vacuum_staged): this
        # orchestrator owns the warehouse exclusively — if concurrent
        # pipelines ever share a root, pass older_than_s > max pipeline
        # duration here so a live run's in-flight staging survives.
        wh.vacuum_staged("tgt")
        stg = {n: wh.read("stg", n) for n in STG_TABLES}
        # incremental: prior target state feeds the SCD1 merges and SCD2
        # version history
        prior = ({n: wh.read("tgt", n) for n in TARGET_TABLES}
                 if all(wh.exists("tgt", n) for n in TARGET_TABLES) else None)
        # Two-phase commit via the Warehouse seam: the dims' SCD plans
        # read the PRIOR dim files and the fact appends the prior fact
        # files, so stage every new table first, then swap — replacing
        # any table in place would delete files a later plan still needs.
        dims = build_target_dims(stg, prior, run_date)
        write_all(lambda n, d: wh.stage_new("tgt", n, d), dims)
        staged = {n: wh.read("tgt", f"{n}__new") for n in dims}

        def write_fact(name: str, df: DataFrame) -> None:
            if prior is not None:
                # D3 fact append, made idempotent: drop this batch's prior
                # rows first (overwrite-by-batch beats the reference's
                # duplicate-on-rerun, etl_target_loader.py:1023-1030)
                existing = prior[name].where(f"etl_batch_id <> '{batch_id}'")
                df = existing.unionByName(df)
            wh.stage_new("tgt", name, df)

        facts = build_target_facts(stg, staged, run_date, batch_id)
        write_all(write_fact, facts)
        wh.commit_staged("tgt", [*dims, *facts])

    def clear_stg() -> None:
        if clear_staging:
            for n in STG_TABLES:
                wh.truncate("stg", n)

    return [Stage("load_ods", load_ods),
            Stage("validate_ods", validate_ods),
            Stage("load_staging", load_staging),
            Stage("load_target", load_target),
            Stage("clear_staging", clear_stg)]


def run_pipeline_resumable(spark: SparkSession, csv_path: str,
                           warehouse_root: str, run_date: str, batch_id: str,
                           seed: int = 42, enforce_quality: bool = True,
                           clear_staging: bool = False, retries: int = 1,
                           retry_delay_s: float = 0.0, force: bool = False,
                           on_event=None) -> dict[str, DataFrame]:
    """The daily run with scheduler semantics: per-stage retry + resume.

    Orchestration state lives at ``<warehouse_root>/_runs/<run_date>_<batch_id>``;
    re-invoking after a failure skips completed stages. Returns the target
    DataFrames read back from the warehouse (same contract as
    :func:`pipeline.run_pipeline`).
    """
    from walmart_project_etl_spark.pipeline import TARGET_TABLES
    from walmart_project_etl_spark.sources.catalog import Warehouse

    stages = pipeline_stages(spark, csv_path, warehouse_root, run_date,
                             batch_id, seed=seed,
                             enforce_quality=enforce_quality,
                             clear_staging=clear_staging)
    state = os.path.join(warehouse_root, "_runs", f"{run_date}_{batch_id}")
    run_stages(stages, retries=retries, retry_delay_s=retry_delay_s,
               state_dir=state, force=force, on_event=on_event)
    wh = Warehouse(spark, warehouse_root)
    return {n: wh.read("tgt", n) for n in TARGET_TABLES}
