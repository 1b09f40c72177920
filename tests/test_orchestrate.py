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
