"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import datagen
import metrics
import stats
from tracing import parse_sql_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_percentile_needs_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert stats.percentile(samples, 90) == 90.0  # ranks 91..100 lie beyond
    with pytest.raises(ValueError):
        stats.percentile(samples[:99], 90)
    assert stats.percentile(samples[:20], 50) == 10.0
    with pytest.raises(ValueError):
        stats.percentile(samples[:19], 50)


def test_percentile_is_order_free_nearest_rank():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert stats.percentile(samples, 80) == 4.0


def test_tail_percentile_picks_highest_supported():
    assert stats.tail_percentile(list(range(1000))) == (99, 989)
    assert stats.tail_percentile(list(range(100)))[0] == 90
    assert stats.tail_percentile(list(range(60)))[0] == 80
    assert stats.tail_percentile(list(range(19))) is None


def test_failure_ratio():
    assert stats.failure_ratio(0, 40) == 0.0
    assert stats.failure_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failure_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failure_ratio(5, 4)


def test_interval_union():
    assert stats.interval_union([]) == 0.0
    assert stats.interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.interval_union([(5, 6), (0, 10)]) == 10.0


def test_parse_sql_metric():
    assert parse_sql_metric("20,000") == 20000.0
    assert parse_sql_metric("435.3 KiB") == pytest.approx(435.3 * 1024)
    aggregated = "total (min, med, max (stageId: taskId))\n5.3 s (1.3 s, 1.3 s, 1.3 s (stage 0.0: task 2))"
    assert parse_sql_metric(aggregated) == pytest.approx(5.3)
    assert parse_sql_metric("21 ms") == pytest.approx(0.021)


def test_metric_lists_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER


def test_printed_end_to_end_metrics_match_benchmark_json():
    import run

    summary = {
        "setup_s": 3.0,
        "passes": [
            {"pass": 0, "traced": False, "warm": False, "seconds": 9.0, "op_seconds": [4.0, 5.0]},
            {"pass": 1, "traced": False, "warm": True, "seconds": 4.0, "op_seconds": [1.5, 2.5]},
            {"pass": 2, "traced": False, "warm": True, "seconds": 5.0, "op_seconds": [2.0, 3.0]},
            {"pass": 3, "traced": True, "warm": True, "seconds": 7.0, "op_seconds": [3.0, 4.0]},
        ],
    }
    printed = run.end_to_end_metrics(summary, input_rows=900)
    want = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in printed.items()} == want
    assert printed["pass_p50_s"]["value"] == 4.5
    assert printed["rows_per_s"]["value"] == 200.0
    assert all(v["value"] > 0 for v in printed.values())


def test_star_schema_is_a_function_of_the_seed():
    a = datagen.star_schema_tables(7, 0.001)
    b = datagen.star_schema_tables(7, 0.001)
    c = datagen.star_schema_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == datagen.star_schema_sizes(0.001)


def test_customer_csv_cardinalities(tmp_path):
    summary = datagen.write_customer_csv(str(tmp_path), seed=3, rows=20_000, parts=4)
    assert len(os.listdir(tmp_path)) == 4
    d = summary["distinct"]
    assert d["custkey"] == d["name"] == d["phone"] == 20_000
    assert d["segment"] == 5
    assert 2000 <= d["signup_date"] <= datagen.DATE_DISTINCT
    assert 0.01 < summary["acctbal_empty"] / 20_000 < 0.03
    with open(tmp_path / "part-000.csv") as f:
        assert f.readline().strip() == ",".join(datagen.CSV_COLUMNS)
