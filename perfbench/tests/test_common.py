"""Percentiles, the reporting rule, spans and self time."""

from __future__ import annotations

from perfbench import common


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 99) == 99
    assert common.percentile(xs, 100) == 100
    assert common.percentile([5.0], 99) == 5.0


def test_a_percentile_needs_ten_samples_beyond_it():
    assert common.samples_beyond(1000, 99) == 10
    assert common.can_name(1000, 99)
    assert not common.can_name(999, 99)
    assert common.can_name(200, 95) and not common.can_name(199, 95)
    assert common.can_name(40, 75) and not common.can_name(39, 75)


def test_summarize_names_only_allowed_percentiles():
    s = common.summarize([float(x) for x in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and "p75" in s
    assert "p95" not in s and "p99" not in s
    assert common.summarize([]) == {"n": 0}
    # the median too needs ten samples above it
    assert common.summarize([1.0] * 19) == {"n": 19}
    assert common.summarize([float(x) for x in range(20)]) == {"n": 20, "p50": 9.5}


def test_spans_nest_and_disabled_records_nothing():
    off = common.Spans(enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []

    on = common.Spans(enabled=True)
    with on.span("outer", rid="r1") as outer:
        with on.span("inner"):
            pass
    with on.span("other", parent=outer["id"]):
        pass
    by = {s["name"]: s for s in on.spans}
    assert by["inner"]["parent"] == by["outer"]["id"] == by["other"]["parent"]
    assert by["outer"]["parent"] is None and by["outer"]["rid"] == "r1"


def test_covered_and_self_time():
    assert common.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert common.covered([(1, 3)], 2, 10) == 1
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},
    ]
    assert common.self_times(spans) == {1: 6.0, 2: 3.0, 3: 2.0}
