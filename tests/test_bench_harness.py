"""Unit tests for bench.py's measurement plumbing (only the leak census
starts Spark).

The bench harness is a per-round driver artifact: its final JSON line must
parse inside the driver's ~4 KB tail capture (BENCH_r06 and BENCH_r11 both
went "parsed": null when the line outgrew it), and its load-contamination
canary must flag a hot box (r11's driver numbers drifted 1.5-8x on
unchanged code and only a judge re-run could tell).
"""

from __future__ import annotations

import importlib.util
import json
import os

import bench


class TestLoadSkewCanary:
    def test_idle_box_not_flagged(self):
        # both probes at the pinned time -> clean
        assert not bench.is_load_skewed([0.14, 0.15])

    def test_mild_jitter_not_flagged(self):
        # under 2x pin is normal same-box spread, not contamination
        assert not bench.is_load_skewed([0.22, 0.29])

    def test_loaded_start_flagged(self):
        assert bench.is_load_skewed([0.95, 0.14])

    def test_loaded_end_flagged(self):
        # box got busy mid-window: the closing probe alone must flag
        assert bench.is_load_skewed([0.14, 0.43])

    def test_threshold_is_factor_times_pin(self):
        pin, factor = bench.CANARY_PINNED_SEC, bench.CANARY_SKEW_FACTOR
        assert not bench.is_load_skewed([pin * factor])
        assert bench.is_load_skewed([pin * factor + 0.001])

    def test_custom_pin_and_factor(self):
        assert bench.is_load_skewed([1.1], pinned=0.5, factor=2.0)
        assert not bench.is_load_skewed([1.1], pinned=0.6, factor=2.0)

    def test_canary_is_registered_and_cheap_shape(self):
        # the canary must be a bench-list member (so its pin stays honest
        # against the recorded per-round medians) with a sub-second pin
        assert bench.CANARY in bench.BENCH_QUERIES
        assert bench.CANARY_PINNED_SEC < 1.0
        assert bench.CANARY_RUNS >= 2


class TestFinalJsonLine:
    """The stdout line aggregates per FAMILY (VERDICT r12 task 1): the
    driver's tail capture is only ~2 KB — the r11 per-query line
    (~3.5 KB) and the r12 2-dp compact one both overflowed it, leaving
    BENCH "parsed": null two rounds running. Per-query detail lives in
    BENCH_spread.json."""

    def _line(self, timings: dict) -> str:
        # mirror main()'s final-line construction exactly
        fam_secs, fam_n = {}, {}
        for n_, t_ in timings.items():
            f_ = bench._family(n_)
            fam_secs[f_] = fam_secs.get(f_, 0.0) + t_
            fam_n[f_] = fam_n.get(f_, 0) + 1
        return json.dumps(
            {"metric": "total_wall_seconds",
             "value": round(sum(timings.values()), 2), "unit": "sec",
             "queries": {f_: round(s_, 2)
                         for f_, s_ in sorted(fam_secs.items())},
             "n_queries": len(timings),
             "per_family_n": {f_: fam_n[f_] for f_ in sorted(fam_n)},
             "sf": 0.1, "load_skewed": False,
             "detail": "BENCH_spread.json"},
            separators=(",", ":"))

    def test_family_mapping(self):
        assert bench._family("j08_multiway_fact_join") == "core"
        assert bench._family("a01_groupby_mode") == "core"
        assert bench._family("f11_f13_product_rules") == "core"
        assert bench._family("txn_agg_mv") == "txn"
        assert bench._family("dedup_semdedup_kmeans_scaled") == "dedup"
        assert bench._family("stream_scd2_follow") == "stream"

    def test_current_benchlist_fits_capture(self):
        # worst-case widths over the REAL bench list must stay under the
        # driver's ~2 KB tail capture with margin
        line = self._line({n: 99999.99 for n in bench.BENCH_QUERIES})
        assert len(line) <= 1800, (
            f"bench JSON line {len(line)}B; the driver tail capture is "
            "~2 KB — aggregate more or drop per_family_n")

    def test_line_parses_back_with_every_family(self):
        timings = {n: 12.345 for n in bench.BENCH_QUERIES}
        d = json.loads(self._line(timings))
        assert d["metric"] == "total_wall_seconds"
        assert d["n_queries"] == len(bench.BENCH_QUERIES)
        assert set(d["queries"]) == {bench._family(n)
                                     for n in bench.BENCH_QUERIES}
        assert abs(sum(d["queries"].values()) - d["value"]) < 0.5
        assert d["load_skewed"] is False


class TestRotation:
    """Bench-subset rotation (r15): deterministic picks from the
    unpinned pool, window advancing with the round index, wraparound,
    no duplicates, and the line budget still holds with the extra
    'rotation' family."""

    def test_deterministic_and_disjoint_from_pinned(self):
        reg = [f"q{i:03d}" for i in range(20)] + bench.BENCH_QUERIES[:5]
        a = bench.rotation_names(reg, 3)
        b = bench.rotation_names(reg, 3)
        assert a == b
        assert len(a) == bench.ROTATING_SLOTS == len(set(a))
        assert not set(a) & set(bench.BENCH_QUERIES)

    def test_window_advances_and_wraps(self):
        pool = [f"q{i:03d}" for i in range(10)]  # pool smaller than 2 windows
        r0 = bench.rotation_names(pool, 0)
        r1 = bench.rotation_names(pool, 1)
        assert r0 != r1
        assert r0 == sorted(pool)[:8]
        # wraparound: window start (1*8) % 10 = 8 → q008, q009, q000...
        assert r1[:2] == ["q008", "q009"] and r1[2] == "q000"
        # tiny pool: picks dedupe, never exceed the pool
        assert bench.rotation_names(["a", "b"], 5) == ["b", "a"] or \
            bench.rotation_names(["a", "b"], 5) == ["a", "b"]
        assert len(bench.rotation_names(["a"], 2)) == 1
        assert bench.rotation_names([], 0) == []

    def test_round_index_stable_within_a_round(self, tmp_path, monkeypatch):
        """r16 fix (VERDICT r15 item 3): the index must NOT move when the
        driver drops an un-committed BENCH_r<N>.json between its 32-core
        and 8-core runs — it keys on the git-COMMITTED files (or the
        explicit $SPARK_GRAFT_ROUND override), not a live file count."""
        import subprocess
        monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
        subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
        for n in (14, 15):
            (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
        (tmp_path / "BENCH_r15_c8.json").write_text("{}")
        subprocess.run(["git", "-C", str(tmp_path), "add", "-A"], check=True)
        subprocess.run(["git", "-C", str(tmp_path), "-c",
                        "user.email=t@t", "-c", "user.name=t",
                        "commit", "-qm", "r15 artifacts"], check=True)
        idx_32core = bench.rotation_round_index(str(tmp_path))
        assert idx_32core == 16
        # driver writes the current round's file mid-round (untracked)
        (tmp_path / "BENCH_r16.json").write_text("{}")
        assert bench.rotation_round_index(str(tmp_path)) == idx_32core
        # explicit override wins
        monkeypatch.setenv("SPARK_GRAFT_ROUND", "21")
        assert bench.rotation_round_index(str(tmp_path)) == 21

    def test_round_index_glob_fallback_warns(self, tmp_path, monkeypatch,
                                             capsys):
        """Outside git the index falls back to a glob that can count the
        current round's own untracked file: one warning line on stderr
        names the override, and stdout stays clean."""
        monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
        (tmp_path / "BENCH_r15.json").write_text("{}")
        assert bench.rotation_round_index(str(tmp_path)) == 16
        out, err = capsys.readouterr()
        assert out == ""
        assert len(err.splitlines()) == 1 and "SPARK_GRAFT_ROUND" in err
        monkeypatch.setenv("SPARK_GRAFT_ROUND", "21")
        assert bench.rotation_round_index(str(tmp_path)) == 21
        assert capsys.readouterr().err == ""

    def test_line_budget_with_rotation_family(self):
        # rotation adds ONE family key however many slots rotate
        timings = {n: 99999.99 for n in bench.BENCH_QUERIES}
        fam_secs, fam_n = {}, {}
        rotated = {f"rot{i}" for i in range(bench.ROTATING_SLOTS)}
        for n_ in rotated:
            timings[n_] = 99999.99
        for n_, t_ in timings.items():
            f_ = "rotation" if n_ in rotated else bench._family(n_)
            fam_secs[f_] = fam_secs.get(f_, 0.0) + t_
            fam_n[f_] = fam_n.get(f_, 0) + 1
        line = json.dumps(
            {"metric": "total_wall_seconds",
             "value": round(sum(timings.values()), 2), "unit": "sec",
             "queries": {f_: round(s_, 2)
                         for f_, s_ in sorted(fam_secs.items())},
             "n_queries": len(timings),
             "per_family_n": {f_: fam_n[f_] for f_ in sorted(fam_n)},
             "sf": 0.1, "load_skewed": False,
             "detail": "BENCH_spread.json"},
            separators=(",", ":"))
        assert len(line) <= 1800


def test_ab_bench_alternates_which_tree_runs_first(monkeypatch, capsys):
    """tools/ab_bench.py runs A first on even rounds and B first on odd
    ones (A,B,B,A,...), and reports how many round pairs B won."""
    spec = importlib.util.spec_from_file_location(
        "ab_bench", os.path.join(os.path.dirname(bench.__file__), "tools",
                                 "ab_bench.py"))
    ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)
    calls: list[str] = []
    secs = {"A": iter([2.0, 2.0, 2.0, 2.0]), "B": iter([1.0, 3.0, 1.0, 1.0])}

    def fake_run_subset(tree, queries, sf_dir, cpus):
        calls.append(tree)
        return {q: next(secs[tree]) for q in queries}

    monkeypatch.setattr(ab, "run_subset", fake_run_subset)
    assert ab.main(["--a", "A", "--b", "B", "--rounds", "4", "q1"]) == 0
    assert calls == ["A", "B", "B", "A", "A", "B", "B", "A"]
    out = capsys.readouterr().out.splitlines()
    assert "B won 3/4 pairs" in out[-2]
    assert json.loads(out[-1])["q1"]["b_wins"] == 3


def test_census_marks_a_leaking_run_and_clears_the_cache(spark, capsys):
    """The leak census after a bench run: a query that leaves a cached
    plan behind is marked leaked for BENCH_spread.json and the cache is
    cleared; a clean run is not marked, and stdout stays empty."""
    leaked: set[str] = set()
    bench.census(spark, "clean", leaked)
    df = spark.range(10).cache()
    df.count()
    bench.census(spark, "leaky", leaked)
    assert leaked == {"leaky"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    bench.census(spark, "after", leaked)
    assert leaked == {"leaky"}
    out = capsys.readouterr()
    assert out.out == ""
    assert "leaky: LEAKED 1 cached plan(s)" in out.err
