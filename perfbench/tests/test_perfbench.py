"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import inputs  # noqa: E402
import loadgen  # noqa: E402
import pipeline_inputs  # noqa: E402
import probe  # noqa: E402
from tracing import Span, SpanRecorder, self_time, union_length  # noqa: E402


# -- percentiles --------------------------------------------------------------
def test_percentile_is_nearest_rank():
    values = list(range(1, 41))  # 1..40
    assert loadgen.percentile(values, 50) == 20
    assert loadgen.percentile(values, 75) == 30
    assert sum(v > loadgen.percentile(values, 75) for v in values) == 10
    assert loadgen.percentile([5.0], 90) == 5.0


# -- closed loop -------------------------------------------------------------
def test_closed_loop_times_each_request_from_its_send():
    ticks = iter(range(100))
    samples = loadgen.closed_loop(lambda i: (200, 1.5, {"i": i}), 3,
                                  clock=lambda: float(next(ticks)))
    assert [(s.index, s.sent, s.done, s.latency) for s in samples] == [
        (0, 0.0, 1.0, 1.0), (1, 2.0, 3.0, 1.0), (2, 4.0, 5.0, 1.0)]
    assert samples[2].payload == {"i": 2} and samples[2].server_ms == 1.5


# -- speed scaling ---------------------------------------------------------------
def test_meter_scales_by_reference_over_mean_spin_and_unstolen_share():
    ticks, times = iter([0.0, 10.0]), iter([0.010, 0.030, 0.020, 0.020])
    hz, cpus = os.sysconf("SC_CLK_TCK"), os.cpu_count()
    steal = iter([0, 4 * hz * cpus])  # 4 of the 10 s stolen on every CPU
    meter = probe.Meter(clock=lambda: next(ticks), spinner=lambda: next(times),
                        steal=lambda: next(steal))
    meter.tick()
    meter.tick()
    report = meter.report()
    assert report["spin_ms"] == [10.0, 30.0, 20.0, 20.0]
    assert report["steal_share"] == pytest.approx(0.4)
    assert report["factor"] == pytest.approx(probe.REF_SPIN_S / 0.020 * 0.6)


def test_spin_does_fixed_work():
    assert 0.0 < probe.spin(1000) < probe.spin(200_000)


# -- spans --------------------------------------------------------------------
def test_self_time_subtracts_merged_children_only():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: children cover 1..6
        Span("c", 2.0, 3.0, 1, "r"),  # grandchild: already inside a
        Span("d", 9.0, 12.0, 0, "r"),  # clipped to the parent's end
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 1.0)
    assert self_time(spans, 3) == pytest.approx(1.0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(3, 4), (0, 10)]) == pytest.approx(10.0)


def test_span_recorder_nests_by_call_order():
    ticks = iter(range(100))
    rec = SpanRecorder(clock=lambda: float(next(ticks)))
    rec.request = "q1"
    with rec.span("outer"):
        rec.wrap("inner", lambda: None)()
    outer, inner = rec.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert inner.request == "q1"
    assert rec.durations("outer") == [3.0]
    assert rec.self_times("outer") == [2.0]
    assert rec.self_times("outer", {"q1"}) == [2.0]
    assert rec.durations("outer", {"q2"}) == []


# -- output checks -------------------------------------------------------------
AREA = inputs.Admin(9, "Box", "Box", 8, minx=0.0, miny=0.0, maxx=1.0, maxy=1.0)
NAMES = {1: ("karvel mostan", None), 2: ("mostan", "karvel inn"), 3: ("tilde", None)}
LATLON = {1: (0.5, 0.5), 2: (0.2, 0.9), 3: (5.0, 5.0)}


def hit(osm_id, score):
    return {"osm_id": osm_id, "score": score}


def test_good_hit_list_passes():
    hits = [hit(2, 0.9), hit(1, 0.5)]
    assert checks.check_hits(hits, 5, ["karvel"], AREA, NAMES, LATLON, expected=2) == []
    tie = [hit(1, 0.5), hit(2, 0.5)]
    assert checks.check_hits(tie, 2, ["karvel"], None, NAMES, LATLON, expected=7) == []


@pytest.mark.parametrize("hits, limit, toks, area, expected, problem", [
    ([hit(1, 0.9), hit(2, 0.8)], 1, ["karvel"], None, 2, "> limit"),
    ([hit(1, 0.5), hit(2, 0.9)], 5, ["karvel"], None, 2, "order"),
    ([hit(2, 0.5), hit(1, 0.5)], 5, ["karvel"], None, 2, "order"),
    ([hit(3, 0.9)], 5, ["karvel"], None, 1, "lacks"),
    ([hit(3, 0.9)], 5, ["tilde"], AREA, 1, "outside"),
    ([hit(1, 0.9)], 5, ["karvel"], None, 2, "expected 2"),
    ([hit(77, 0.9)], 5, ["karvel"], None, 1, "unknown osm_id"),
])
def test_bad_hit_lists_are_caught(hits, limit, toks, area, expected, problem):
    found = checks.check_hits(hits, limit, toks, area, NAMES, LATLON, expected)
    assert any(problem in p for p in found), found


def test_served_response_checks():
    punct = {"body": {"candidates": ["?!"]}, "toks": [], "area": None, "candidates": 0}
    assert checks.check_served(200, {"hits": []}, punct, NAMES, LATLON) == []
    assert checks.check_served(200, {"hits": [hit(1, 1.0)]}, punct, NAMES, LATLON)
    assert checks.check_served(500, None, punct, NAMES, LATLON) == ["status 500"]


def test_batch_checks_ranks_and_unknown_requests():
    battery = [{"id": 0, "toks": ["karvel"], "area": None, "candidates": 2}]
    good = [{"req_id": 0, "rank": 1, **hit(2, 0.9)}, {"req_id": 0, "rank": 2, **hit(1, 0.5)}]
    assert checks.check_batch(good, battery, 5, NAMES, LATLON) == {}
    gap = [dict(good[0], rank=2)]
    assert "ranks" in checks.check_batch(gap, battery, 5, NAMES, LATLON)[0][0]
    extra = good + [{"req_id": 4, "rank": 1, **hit(1, 0.5)}]
    assert 4 in checks.check_batch(extra, battery, 5, NAMES, LATLON)


def test_same_hits_and_digest():
    a = [hit(1, 0.5), hit(2, 0.4)]
    assert checks.same_hits(a, [hit(1, 0.5 + 1e-12), hit(2, 0.4)])
    assert not checks.same_hits(a, a[::-1])
    assert not checks.same_hits(a, a[:1])
    assert checks.digest([(0, a), (1, [])]) == checks.digest([(1, []), (0, a[::-1])])
    assert checks.digest([(0, a)]) != checks.digest([(1, a)])


# -- inputs -------------------------------------------------------------------
def test_area_resolution_prefers_city_then_largest_area():
    big = inputs.Admin(1, "Tarsk", "Tarsk", 6, 0, 0, 2, 2)
    small = inputs.Admin(2, "Tarsk Vel", "Tarsk Vel", 8, 0, 0, 1, 1)
    land = inputs.Admin(3, "Ulmar", "Ulmar", 2, 0, 0, 9, 9)
    admins = [big, small, land]
    assert inputs.resolve_area(admins, "tarsk", "Ulmar") is big
    assert inputs.resolve_area(admins, "Tarsk-Vel!", None) is small
    assert inputs.resolve_area(admins, "Nowhere", "ulmar") is land
    assert inputs.resolve_area(admins, None, "Tarsk") is None
    assert inputs.resolve_country_exact(admins, "ULMAR") is land
    assert inputs.resolve_country_exact(admins, "Ulm") is None


def test_generator_is_seeded_and_counts_are_exact():
    a, b = inputs.generate(5), inputs.generate(5)
    assert a.raw_rows == b.raw_rows
    assert a.batteries["serve_selective"] == b.batteries["serve_selective"]
    assert a.raw_rows != inputs.generate(6).raw_rows
    for req in a.batteries["serve_selective"][:50]:
        ids = [i for i, (ln, en) in a.poi_names.items()
               if all(t in ln or t in (en or "") for t in req["toks"])
               and (req["area"] is None or inputs.in_bbox(a.poi_latlon[i], req["area"]))]
        assert req["candidates"] == (len(ids) if req["toks"] else 0)


def test_broad_probe_reaches_the_scan_cap():
    inp = inputs.generate(5)
    broad = inp.batteries["broad"]
    assert broad[0]["candidates"] >= inputs.LIMIT_SCAN > broad[1]["candidates"] > 1000
    assert all(r["area"] is None and len(r["body"]["candidates"]) == 2 for r in broad)


# -- pipeline_ops ------------------------------------------------------------
def test_entry_row_check_compares_every_pass_with_the_warm_pass():
    warm = {"a": 10, "b": 0}
    assert checks.check_entry_rows([{"a": 10, "b": 0}, {"b": 0, "a": 10}], warm) == []
    problems = checks.check_entry_rows([{"a": 10, "b": 0}, {"a": 9, "b": 0}], warm)
    assert problems == ["pass 2: a wrote 9 rows, 10 in the warm pass"]
    assert checks.check_entry_rows([{"a": 10}], warm) == [
        "pass 1: b wrote None rows, 0 in the warm pass"]
    assert checks.digest_rows(warm) == checks.digest_rows({"b": 0, "a": 10})


def test_pipeline_tables_and_orders_are_seeded():
    a, b = pipeline_inputs.build(3), pipeline_inputs.build(3)
    assert a["documents"]["text"] == b["documents"]["text"]
    assert a["documents"]["text"] != pipeline_inputs.build(4)["documents"]["text"]
    for name, n in pipeline_inputs.SIZES.items():
        assert len(next(iter(a[name].values()))) == n
    assert (a["lineitem"]["l_shipdate"] >= a["orders"]["o_orderdate"].min()).all()
    orders = pipeline_inputs.entry_orders(3, 3)
    assert orders == pipeline_inputs.entry_orders(3, 3)
    assert all(sorted(o) == sorted(pipeline_inputs.ENTRIES) for o in orders)
    assert len({tuple(o) for o in orders}) > 1


def test_topmost_plan_node_with_a_column():
    from worker import _topmost_rows

    nodes = [  # (class, output columns, numOutputRows), root first
        ("ProjectExec", ["req_id", "osm_id"], None),
        ("BroadcastHashJoinExec", ["req_id", "id", "_matched", "n_toks"], 54),
        ("HashAggregateExec", ["req_id", "id", "_matched"], 59),
    ]
    assert _topmost_rows(nodes, "_matched") == 54
    assert _topmost_rows(nodes, "importance") is None
