"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness as H  # noqa: E402
import metrics as M  # noqa: E402
import run as R  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


# -- percentiles -------------------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert H.percentile(xs, 50) == 50.0
    assert H.percentile(xs, 90) == 90.0
    assert H.percentile(xs, 100) == 100.0
    assert H.percentile([3.0, 1.0, 2.0], 0) == 1.0


def test_median_of_even_count_is_midpoint():
    assert H.median([4.0, 1.0, 3.0, 2.0]) == 2.5


@pytest.mark.parametrize("n", [0, 1, 10, 19, 20])
def test_tail_percentile_needs_ten_samples_beyond_the_median(n):
    assert H.tail_percentile([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n, p", [(30, 66), (100, 90), (1000, 99), (250, 96)])
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    xs = [float(i) for i in range(1, n + 1)]
    got_p, value = H.tail_percentile(xs)
    assert got_p == p
    assert value == H.percentile(xs, p)
    assert sum(1 for x in xs if x > value) >= 10
    # one percent higher would leave fewer than ten samples beyond
    assert sum(1 for x in xs if x > H.percentile(xs, p + 1)) < 10


# -- spans ---------------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return H.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_covered_interval_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 7.0, 8.0, 0)]
    assert H.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 2.0, 6.0)
    assert H.self_time(parent, [_span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]) == pytest.approx(2.0)
    assert H.self_time(parent, [_span(3, 7.0, 9.0, 0)]) == pytest.approx(4.0)


def test_self_times_nested_levels_sum_to_root_duration():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 9.0, 0), _span(2, 2.0, 4.0, 1), _span(3, 5.0, 6.0, 1)]
    st = H.self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 5.0, 2: 2.0, 3: 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_records_parents_and_request_ids():
    t = H.Tracer(True)
    t.request = "req-1"
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.request) == ("inner", outer.span_id, "req-1")
    assert outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    t = H.Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


# -- failure accounting ------------------------------------------------------------


def test_ledger_counts_raised_and_wrong_answers_as_failed():
    led = H.Ledger()
    led.record(True)
    led.record(False, "raised")
    led.record(True)
    led.mark_wrong("wrong answer")
    assert (led.attempted, led.failed) == (3, 2)
    assert led.failed_ratio == pytest.approx(2 / 3)
    assert led.problems == ["raised", "wrong answer"]


def test_ledger_without_attempts_has_zero_ratio():
    assert H.Ledger().failed_ratio == 0.0


# -- answers ---------------------------------------------------------------------------


def test_digest_ignores_row_and_column_order_but_not_types():
    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    b = pd.DataFrame({"n": [2, 1], "k": ["y", "x"]})
    assert H.digest(a) == H.digest(b)
    assert H.digest(a) != H.digest(pd.DataFrame({"k": ["x", "y"], "n": [1.0, 2.0]}))
    assert H.digest(a) != H.digest(pd.DataFrame({"k": ["x", "y"], "n": [1, 3]}))


# -- metric names and BENCHMARK.json -----------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "plan.analysis_s", "exec.gc_s", "a-b.c_1", "9x"])
def test_metric_name_accepts_pattern(name):
    assert H.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "has space", "a/b", "per%", "_lead", "x" * 65])
def test_metric_name_rejects_others(name):
    with pytest.raises(ValueError):
        H.check_metric_name(name)


def test_every_reported_metric_name_is_valid():
    for name in list(M.E2E) + list(M.LAYERS):
        H.check_metric_name(name)


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == M.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == M.LAYERS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- settling ------------------------------------------------------------------------


def _counter(values):
    it = iter(values)
    last = [None]

    def read():
        last[0] = next(it, last[0])
        return last[0]

    return read


def test_wait_quiet_stops_after_unchanged_polls():
    slept = []
    assert H.wait_quiet(_counter([1, 2, 3, 3, 3, 9]), quiet_polls=2, sleep=slept.append)
    assert len(slept) == 4


def test_wait_quiet_gives_up_at_the_timeout():
    slept = []
    read = _counter(range(1000))
    assert not H.wait_quiet(read, interval_s=0.5, timeout_s=2.0, sleep=slept.append)
    assert sum(slept) == 2.0

