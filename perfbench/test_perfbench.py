"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, loads, metrics, txn
from perfbench.trace import Span, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 8399


@pytest.fixture(scope="module")
def days():
    return gen.generate(11, N)


# ------------------------------------------------------------- generator

def test_generator_is_deterministic(days):
    again = gen.generate(11, N)
    assert [gen.to_csv(d) for d in again] == [gen.to_csv(d) for d in days]
    assert gen.to_csv(gen.generate(12, N)[0]) != gen.to_csv(days[0])


def test_generator_meets_quality_gates_and_constraints(days):
    d1, d2 = days
    assert len(d1.lines) == len(d2.lines) == N
    # volume gates: >=5,000 sales, >=1,000 products, >=100 stores
    assert len({(ln.product, ln.category, ln.sub_category, ln.container,
                 ln.margin, ln.unit_price_cents) for ln in d1.lines}) >= 1000
    assert len({ln.city for ln in d1.lines}) >= 100
    # order dates on/after the SCD2 backfill date; returns are drawn from
    # the newest 5,000 lines, which must span >= 3 months
    assert min(ln.order_date for ln in d1.lines).year >= 2000
    newest = sorted(ln.order_date for ln in d1.lines)[-5000:]
    assert (newest[-1] - newest[0]).days >= 92
    # business keys are unique and kept by day 2
    assert len({(ln.order_id, ln.row_id) for ln in d1.lines}) == N
    assert [ln.row_id for ln in d1.lines] == [ln.row_id for ln in d2.lines]
    # one state/region/zip per city on each day (store id hashes the city)
    for d in days:
        homes = {}
        for ln in d.lines:
            assert homes.setdefault(ln.city, (ln.state, ln.region,
                                              ln.zip_code)) == \
                (ln.state, ln.region, ln.zip_code)


def test_generator_quirks_and_mutation(days):
    d1, d2 = days
    text = gen.to_csv(d1).decode()
    assert '""' in text and '",' in text          # quoted, quote-doubled
    ages = sum(ln.age == "" for ln in d1.lines) / N
    margins = sum(ln.margin == "" for ln in d1.lines) / N
    assert 0.07 < ages < 0.13 and 0.002 < margins < 0.03
    cities = {}
    for ln in d1.lines:
        cities.setdefault(ln.customer, set()).add(ln.city)
    assert sum(len(c) > 1 for c in cities.values()) > 100
    prices = {}
    for ln in d1.lines:
        prices.setdefault(ln.product, set()).add(ln.unit_price_cents)
    assert sum(len(p) > 1 for p in prices.values()) > 20
    names = {ln.product for ln in d1.lines}
    assert 0.08 < len(d2.repriced) / len(names) < 0.12
    assert 0.03 < len(d2.moved) / len({ln.city for ln in d1.lines}) < 0.07
    for a, b in zip(d1.lines, d2.lines):
        assert (a.unit_price_cents != b.unit_price_cents) == \
            (a.product in d2.repriced)
        assert (a.region != b.region) == (a.city in d2.moved)


# ----------------------------------------------------------------- checks

def test_day_check_passes_and_fails_on_tampering(days):
    exp = gen.expected_day(days[1])
    good = {k: (set(v) if isinstance(v, set) else v) for k, v in exp.items()}
    good["sales_by_category"] = dict(exp["sales_by_category"])
    assert loads.check_day(good, exp) == []
    cat = next(iter(good["sales_by_category"]))
    tampered = [
        ("fact_rows", good["fact_rows"] - 1),
        ("sales_by_category", {**good["sales_by_category"],
                               cat: good["sales_by_category"][cat] + 1}),
        ("products", good["products"] + 1),
        ("stores", good["stores"] - 1),
        ("repriced", good["repriced"] - {next(iter(good["repriced"]))}),
        ("moved", good["moved"] | {"City 9999"}),
    ]
    for key, value in tampered:
        assert loads.check_day({**good, key: value}, exp) == [key]


def test_bi_checks_fail_on_tampering(days):
    exp = gen.expected_bi(list(days))
    assert set(exp) >= set(metrics.BI)
    for name in metrics.BI:
        good = exp[name]
        assert loads.check_bi(name, good, exp)
        if isinstance(good, dict):
            k = next(iter(good))
            bad = {**good, k: good[k] + 1}
        elif isinstance(good, tuple):
            bad = (good[0] + 1, good[1])
        else:
            bad = list(reversed(good))
        assert not loads.check_bi(name, bad, exp), name


def test_bi_answer_normalizes_rows():
    from decimal import Decimal
    rows = [("Furniture", Decimal("12.34")), ("Technology", Decimal("-0.05"))]
    assert loads.bi_answer("sales_by_category", rows) == \
        {"Furniture": 1234, "Technology": -5}
    assert loads.bi_answer("changed_dim_keys", [(3, 2)]) == (3, 2)


def test_read_and_snapshot_checks(days):
    model = txn.Model(txn.table_rows(days[0]), 5)
    args, want = model.read("read_col_in")
    got = sorted(want)
    assert txn.check_read(got, want)
    assert not txn.check_read(got[:-1], want)
    assert not txn.check_read(got + got[:1], want)      # duplicate row
    assert not txn.check_read(got[:-1] + [-1], want)
    before = model.checksum()
    batch = model.batch()
    assert len(batch) == txn.COMMIT_ROWS
    assert len({r[0] for r in batch}) == txn.COMMIT_ROWS
    after = model.checksum()
    n_upd = int(txn.COMMIT_ROWS * txn.UPDATE_SHARE)
    assert after[0] == before[0] + txn.COMMIT_ROWS - n_upd
    assert after != before


def test_pair_means_average_each_two_cycles():
    reads = [1.0, 3.0, 1.0, 5.0, 2.0, 2.0, 2.0, 2.0, 9.0]
    assert txn.pair_means(reads) == [2.5, 2.0]     # partial pair dropped


# ------------------------------------------------------------------ stats

def test_self_time_subtracts_covered_child_time():
    spans = [Span("day", 0.0, 10.0),
             Span("a", 1.0, 4.0, parent=0),
             Span("b", 3.0, 6.0, parent=0),         # overlaps a
             Span("c", 8.0, 12.0, parent=0),        # runs past the parent
             Span("a.x", 1.5, 2.0, parent=1)]
    assert self_times(spans) == pytest.approx([3.0, 2.5, 3.0, 4.0, 0.5])
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_per_layer_reports_every_metric_with_zeros_for_unused_layers():
    spans = [Span("session.get_spark", 0.0, 2.0),
             Span("txlog.read_keys", 2.0, 2.5, counters={"jobs": 1})]
    res = {"failed": 0, "attempted": 3, "peak_rss_mb": 900.0}
    v = metrics.per_layer(spans, res, 0.1)
    assert sorted(v) == sorted(n for n, _, _ in metrics.PER_LAYER)
    assert v["session.get_spark.wall_s"] == 2.0
    assert v["txlog.read_keys.jobs"] == 1
    assert v["day1.orchestrate.load_ods.wall_s"] == 0


def test_benchmark_json_matches_metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {k: spec[k] for k in ("end_to_end", "per_layer")} == \
        metrics.spec()
    assert len(spec["per_layer"]) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 for n in names)


def test_tracer_disabled_records_nothing():
    from perfbench.trace import Tracer
    t = Tracer(False)
    assert t.begin("x") == 0
    with t.span("y"):
        pass
    t.record("z", 0.0, 1.0)
    t.end_to(0)
    assert t.spans == [] and t.end() is None and t.to_json() == []
