"""Stage-retry + resume orchestration (the reference DAG's retries=1 /
re-run-from-failed-task semantics, dags/walmart_etl_pipeline_dag.py:254-264,
implemented in-repo — walmart_project_etl_spark/orchestrate.py)."""

import os

import pytest

from walmart_project_etl_spark.orchestrate import (Stage, StageFailure,
                                                   pipeline_stages,
                                                   run_pipeline_resumable,
                                                   run_stages)
from walmart_project_etl_spark.queries.pipeline import REFERENCE_CSV as CSV


def test_retry_recovers_transient_failure():
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise OSError("transient")

    ran = run_stages([Stage("flaky", flaky)], retries=1)
    assert ran == ["flaky"] and attempts["n"] == 2


def test_retry_exhaustion_raises_stage_failure():
    def broken():
        raise ValueError("permanent")

    with pytest.raises(StageFailure) as ei:
        run_stages([Stage("a", lambda: None), Stage("broken", broken)],
                   retries=2)
    assert ei.value.stage == "broken" and ei.value.attempts == 3
    assert isinstance(ei.value.cause, ValueError)


def test_resume_skips_completed_stages(tmp_path):
    log = []
    state = str(tmp_path / "state")

    def fail_third():
        raise RuntimeError("boom")

    stages = [Stage("s1", lambda: log.append("s1")),
              Stage("s2", lambda: log.append("s2")),
              Stage("s3", fail_third)]
    with pytest.raises(StageFailure):
        run_stages(stages, retries=0, state_dir=state)
    assert log == ["s1", "s2"]

    # second invocation: s1/s2 skip via markers, fixed s3 runs
    fixed = [stages[0], stages[1], Stage("s3", lambda: log.append("s3"))]
    events = []
    ran = run_stages(fixed, retries=0, state_dir=state,
                     on_event=lambda k, s, a: events.append((k, s)))
    assert ran == ["s3"]
    assert log == ["s1", "s2", "s3"]
    assert ("skip", "s1") in events and ("skip", "s2") in events

    # force reprocesses everything
    ran = run_stages(fixed, retries=0, state_dir=state, force=True)
    assert ran == ["s1", "s2", "s3"]


def test_pipeline_resumes_from_failed_stage(spark, tmp_path):
    """Drive the REAL daily pipeline through the orchestrator: run the
    first two DAG stages, then invoke the resumable entry point and check
    it skips them and completes the remaining layers to the golden row
    count."""
    if not os.path.exists(CSV):
        pytest.skip(f"{CSV} absent")
    root = str(tmp_path / "wh")
    stages = pipeline_stages(spark, CSV, root, "2026-01-05", "B1")
    assert [s.name for s in stages] == [
        "load_ods", "validate_ods", "load_staging", "load_target",
        "clear_staging"]
    state = f"{root}/_runs/2026-01-05_B1"
    run_stages(stages[:2], retries=0, state_dir=state)

    events = []
    tgt = run_pipeline_resumable(
        spark, CSV, root, "2026-01-05", "B1",
        on_event=lambda k, s, a: events.append((k, s)))
    assert ("skip", "load_ods") in events
    assert ("skip", "validate_ods") in events
    assert ("done", "load_target") in events
    assert tgt["tgt_fact_sales"].count() == 8399


def _files(path: str) -> dict[str, bytes]:
    """Every file under ``path`` by relative name, with its bytes."""
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            full = os.path.join(dp, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_load_waves_match_one_shot_plans(spark, tmp_path, monkeypatch):
    """Staging and target load dims first, then facts over the written
    dims. On a generated two-day source: every stg_*/tgt_* table equals
    the one-shot build_staging/build_target output over the same
    inputs; the fact writes scan the staged tgt_dim_*__new files and
    run no SCD join; a failure in the fact wave leaves the prior target
    untouched, and the resumed run converges."""
    import shutil

    from perfbench import gen
    from walmart_project_etl_spark.pipeline import TARGET_TABLES
    from walmart_project_etl_spark.plans.staging import build_staging
    from walmart_project_etl_spark.plans.target import build_target
    from walmart_project_etl_spark.schemas import ODS_SCHEMAS, STG_SCHEMAS
    from walmart_project_etl_spark.sources.catalog import Warehouse

    days = gen.generate(11, 300)
    csvs = []
    for i, day in enumerate(days, 1):
        path = tmp_path / f"day{i}.csv"
        path.write_bytes(gen.to_csv(day))
        csvs.append(str(path))
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)

    def assert_same(name, got, want):
        assert got.columns == want.columns, name
        assert got.exceptAll(want).union(want.exceptAll(got)).isEmpty(), name

    def check_layers(day, prior):
        ods = {n: wh.read("ods", n) for n in ODS_SCHEMAS}
        for n, want in build_staging(ods, day.batch_id, day.run_date).items():
            assert_same(n, wh.read("stg", n), want)
        stg = {n: wh.read("stg", n) for n in STG_SCHEMAS}
        want = build_target(stg, prior, day.run_date, day.batch_id)
        for n in TARGET_TABLES:
            if prior is not None and n.startswith("tgt_fact_"):
                want[n] = prior[n].where(
                    f"etl_batch_id <> '{day.batch_id}'").unionByName(want[n])
            assert_same(n, wh.read("tgt", n), want[n])

    day1, day2 = days
    # 300 lines a day is under the volume gate's minimums
    run_pipeline_resumable(spark, csvs[0], root, day1.run_date,
                           day1.batch_id, enforce_quality=False)
    check_layers(day1, None)

    # day 2 fails in the fact wave: the prior target stays as it was
    before = {n: _files(wh.path("tgt", n)) for n in TARGET_TABLES}
    prior_root = str(tmp_path / "prior")
    shutil.copytree(os.path.join(root, "tgt"), os.path.join(prior_root, "tgt"))
    real_stage = Warehouse.stage_new

    def failing_stage(self, layer, table, df):
        if table.startswith("tgt_fact_"):
            raise RuntimeError("injected fact-wave failure")
        return real_stage(self, layer, table, df)

    monkeypatch.setattr(Warehouse, "stage_new", failing_stage)
    with pytest.raises(StageFailure) as err:
        run_pipeline_resumable(spark, csvs[1], root, day2.run_date,
                               day2.batch_id, enforce_quality=False,
                               retries=0)
    assert err.value.stage == "load_target"
    assert {n: _files(wh.path("tgt", n)) for n in TARGET_TABLES} == before

    # the resumed run: only load_target and clear_staging run, and each
    # fact write reads the staged dims, never a prior dim
    fact_plans = {}

    def recording_stage(self, layer, table, df):
        if table.startswith("tgt_fact_"):
            fact_plans[table] = (
                df.inputFiles(),
                df._jdf.queryExecution().optimizedPlan().toString())
        return real_stage(self, layer, table, df)

    monkeypatch.setattr(Warehouse, "stage_new", recording_stage)
    events = []
    run_pipeline_resumable(spark, csvs[1], root, day2.run_date,
                           day2.batch_id, enforce_quality=False,
                           on_event=lambda k, s, a: events.append((k, s)))
    assert [s for k, s in events if k == "done"] == ["load_target",
                                                     "clear_staging"]
    assert sorted(fact_plans) == ["tgt_fact_inventory", "tgt_fact_returns",
                                  "tgt_fact_sales"]
    for name, (files, plan) in fact_plans.items():
        dims = {f.split("/tgt/")[1].split("/")[0] for f in files
                if "/tgt/tgt_dim_" in f}
        assert dims and all(d.endswith("__new") for d in dims), (name, dims)
        assert "tgt_dim_product__new" in dims, name
        assert "FullOuter" not in plan, name
    assert not [n for n in os.listdir(os.path.join(root, "tgt"))
                if n.endswith("__new")]
    prior_wh = Warehouse(spark, prior_root)
    check_layers(day2, {n: prior_wh.read("tgt", n) for n in TARGET_TABLES})
