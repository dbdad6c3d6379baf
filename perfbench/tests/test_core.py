import json
import os

import pytest

from perfbench.core import Outcomes, covered, same_ranking, self_time, tail, valid_metric_name
from perfbench.trace import PER_LAYER_UNITS
from perfbench.workloads import E2E_UNITS

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json")


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 201))  # 1..200
    pct, value = tail(values)
    assert pct == 95.0
    assert value == 190
    assert sum(v > value for v in values) == 10


def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    pct, value = tail(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)


def test_tail_ignores_input_order():
    assert tail([5, 1, 4, 2, 3] * 10) == tail(sorted([5, 1, 4, 2, 3] * 10))


def test_metric_names():
    names = list(E2E_UNITS) + list(PER_LAYER_UNITS)
    assert all(valid_metric_name(n) for n in names)
    assert len(set(names)) == len(names)
    assert not valid_metric_name("bad name")
    assert not valid_metric_name("_leading")
    assert not valid_metric_name("x" * 65)


def test_benchmark_json_lists_the_emitted_metrics():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == set(E2E_UNITS)
    assert {m["name"] for m in spec["per_layer"]} == set(PER_LAYER_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == E2E_UNITS[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == PER_LAYER_UNITS[m["name"]]


def test_wrong_result_counts_as_failure():
    out = Outcomes()
    out.run("right", lambda: [(1, 2.0)], lambda r: same_ranking(r, [(1, 2.0)]))
    out.run("wrong order", lambda: [(2, 1.0), (1, 2.0)],
            lambda r: same_ranking(r, [(1, 2.0), (2, 1.0)]))
    out.run("wrong score", lambda: [(1, 2.0 + 1e-6)], lambda r: same_ranking(r, [(1, 2.0)]))
    assert (out.attempted, out.failed) == (3, 2)
    assert out.failed_share == pytest.approx(2 / 3)


def test_raising_operation_counts_as_failure_and_is_timed():
    out = Outcomes()

    def boom():
        raise RuntimeError("x")

    result, dt = out.run("boom", boom, lambda r: True)
    assert result is None and dt >= 0
    assert (out.attempted, out.failed) == (1, 1)


def test_same_ranking_tolerance_is_relative():
    assert same_ranking([(1, 1000.0 + 1e-7)], [(1, 1000.0)])
    assert not same_ranking([(1, 1000.0 + 1e-5)], [(1, 1000.0)])
    assert not same_ranking([(1, 1.0)], [])


def test_self_time_subtracts_union_of_children():
    # span 0..10; children 1..3 and 2..5 overlap (cover 1..5), 8..12
    # is clipped to 8..10: self time = 10 - 4 - 2
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert self_time(2.0, 3.5, []) == pytest.approx(1.5)
    assert covered(0, 1, [(2, 3), (-2, -1)]) == 0.0


def test_self_time_nested_children_count_once():
    assert self_time(0, 10, [(0, 10), (2, 3)]) == pytest.approx(0.0)
