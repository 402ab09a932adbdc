"""Percentiles, metric names and the BENCHMARK.json contract."""

import json
import os
import re

import pytest

import run
import workloads
from stats import kind_medians, percentile, tail_mean

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_nearest_rank_percentile():
    xs = list(range(1, 11))  # 1..10
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10
    assert percentile(xs, 0) == 1
    assert percentile([3.0], 99) == 3.0
    assert percentile(list(reversed(xs)), 75) == 8
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_mean_averages_the_slowest_fifth():
    assert tail_mean([5.0]) == 5.0
    assert tail_mean(range(1, 6)) == 5            # 5 samples: the slowest one
    assert tail_mean(range(1, 11)) == 9.5         # 10 samples: the slowest two
    assert tail_mean(list(range(20, 0, -1))) == 18.5  # any order: 20, 19, 18, 17
    assert tail_mean(range(1, 10)) == 9           # 9 samples: still one
    with pytest.raises(ValueError):
        tail_mean([])


def test_kind_medians_ignore_a_stall_in_a_minority_of_one_kind():
    kinds = ["a", "b", "a", "a", "b", "b"]
    assert kind_medians(kinds, [1.0, 5.0, 1.2, 9.0, 5.0, 6.0]) == [1.2, 5.0, 1.2, 1.2, 5.0, 5.0]
    assert kind_medians(["x", "x"], [1.0, 2.0]) == [1.5, 1.5]
    assert kind_medians([], []) == []
    with pytest.raises(ValueError):
        kind_medians(["a"], [1.0, 2.0])


def test_metric_names_are_well_formed_and_unique():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names + list(run.MVCC_E2E):
        assert METRIC_NAME.fullmatch(n), n


def test_benchmark_json_matches_the_runner():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert run._unit(m["name"]) == m["unit"], m["name"]
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_every_mapped_layer_metric_is_reported():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as fh:
        moves = json.load(fh)["moves"]
    per_layer = {m["name"] for m in _bench()["per_layer"]}
    e2e = {m["name"] for m in _bench()["end_to_end"]} | {"error_rate"}
    assert set(moves) <= per_layer
    for name, pred in moves.items():
        for target in pred["end_to_end"]:
            assert target in e2e or target in per_layer, (name, target)
