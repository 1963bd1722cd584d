"""Percentile rule, spread rule and metric names."""

import json
import os
import re
import statistics

import pytest

from perfbench import stats

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "BENCHMARK.json")


@pytest.mark.parametrize(
    "n,p", [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
            (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_reportable_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.reportable_percentile(n) == p


def test_percentile_is_nearest_rank():
    vals = list(range(1, 11))
    assert stats.percentile(vals, 50) == 5
    assert stats.percentile(vals, 90) == 9
    assert stats.percentile(vals, 100) == 10
    assert stats.percentile([7.0], 99) == 7.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [1.0, 1.2, 0.9, 1.1, 1.05, 0.95, 1.3, 1.0, 0.98, 1.02]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


@pytest.mark.parametrize("name", ["setup_s", "codecs.long.zwrap_best_s", "q04.shuffle-bytes", "9x"])
def test_good_metric_names(name):
    assert stats.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", ".x", "_x", "x/y", "é", "x" * 65])
def test_bad_metric_names(name):
    with pytest.raises(ValueError):
        stats.check_metric_name(name)


def test_spec_shape():
    with open(SPEC) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and 1 <= spec["run_seconds"] <= 60
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    for n in names:
        stats.check_metric_name(n)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
