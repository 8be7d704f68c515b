import json
import os

import pytest
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.supports(100, 90)
    assert not stats.supports(99, 90)
    assert stats.supports(20, 50)
    assert not stats.supports(19, 50)
    assert stats.supports(1000, 99)


def test_iqr_share():
    assert stats.iqr_share([10.0] * 10) == 0.0
    vals = [9.0, 10.0, 10.0, 11.0]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / 10.0)


def test_error_rate():
    assert stats.error_rate(0, 13) == 0.0
    assert stats.error_rate(1, 4) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)


@pytest.mark.parametrize("name", ["setup_s", "crawl.round_ms", "engine.search_ranked_ms.bm25", "a-b_c.9"])
def test_good_names(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", ".x", "has space", "x/y", "ü", "a" * 65, "p90%"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_every_reported_metric_name_and_unit_is_valid():
    import run
    import workloads

    for table in (run.END_TO_END, workloads.per_layer_units()):
        for name, unit in table.items():
            stats.check_name(name)
            stats.check_unit(unit)


def test_benchmark_json_matches_the_metrics_reported():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
