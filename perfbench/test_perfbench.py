"""Tests of the benchmark's pure logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import motor, report, stats
from perfbench.run import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent


def test_median_of_reports_median_and_count():
    assert stats.median_of([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    assert stats.median_of([1.0, 2.0]) == {"median": 1.5, "n": 2}
    with pytest.raises(ValueError):
        stats.median_of([])


def test_per_query_sum_adds_each_query_median():
    got = stats.per_query_sum({"a": [1.0, 3.0, 2.0], "b": [10.0, 20.0]})
    assert got == {"median": 2.0 + 15.0, "n": 5}
    with pytest.raises(ValueError):
        stats.per_query_sum({"a": []})


def test_merge_samples_concatenates_per_key():
    merged = stats.merge_samples([{"a": [1.0], "b": [2.0]}, {"a": [3.0]}])
    assert merged == {"a": [1.0, 3.0], "b": [2.0]}


def test_error_rate_arithmetic():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.error_rate(attempted, failed)


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1 by one second
        _span(3, 1.5, 2.0, parent=1),  # grandchild: not subtracted from 0
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(0.5)


def test_spark_metric_strings():
    assert stats.parse_count("1,234") == 1234
    assert stats.parse_size("1544.0 B") == 1544.0
    assert stats.parse_size(
        "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 3))"
    ) == 2.0 * (1 << 20)


def test_expected_split_counts_ok_classes():
    classes = motor.load_classes(ROOT)
    assert len(classes) == 10
    everything_once = list(range(10))
    assert motor.expected_split(everything_once, classes) == (5, 5)
    ok_idx = [i for i, c in enumerate(classes) if c["policy_number"] in motor.OK_CLASSES]
    assert motor.expected_split(ok_idx * 3, classes) == (15, 0)


def test_generated_input_matches_expected_split(tmp_path):
    dest = tmp_path / "in.json"
    ok, ko = motor.write_input(ROOT, dest, 500, seed=7)
    rows = [json.loads(line) for line in dest.read_text().splitlines()]
    assert len(rows) == ok + ko == 500
    assert len({r["policy_number"] for r in rows}) == 500
    classes = [r["policy_number"].rsplit("-", 1)[0] for r in rows]
    assert sum(c in motor.OK_CLASSES for c in classes) == ok
    # same seed, same input; another seed, another class mix
    assert motor.write_input(ROOT, tmp_path / "again.json", 500, seed=7) == (ok, ko)
    assert (tmp_path / "again.json").read_text() == dest.read_text()
    assert motor.class_mix(500, 10, 8) != motor.class_mix(500, 10, 7)


def test_sink_rebinding_keeps_sinks_distinct(tmp_path):
    flow = motor.bound_dataflow(ROOT, tmp_path / "in.json", tmp_path / "out")
    sinks = motor.sink_paths(flow)
    assert sinks["validation_ok"] == str(tmp_path / "out/output/events/motor_policy")
    assert sinks["validation_ko"] == str(tmp_path / "out/output/discards/motor_policy")
    stats_step = next(t for t in flow["transformations"] if t["type"] == "compute_stats")
    assert stats_step["params"]["output_path"] == str(tmp_path / "out/output/stats")
    assert flow["sources"][0]["path"] == str(tmp_path / "in.json")


def test_per_pass_aggregation():
    motor_layers = {"spark.jobs": [17.0, 17.0, 18.0], "cold:spark.jobs": [40.0]}
    assert report.per_pass("motor", motor_layers) == {"spark.jobs": 17.0}
    assert report.per_pass("motor", motor_layers, cold=True) == {"spark.jobs": 40.0}
    catalog_layers = {
        "q1:spark.jobs": [2.0, 4.0, 3.0],
        "q2:spark.jobs": [5.0],
        "cold:q1:spark.jobs": [9.0],
    }
    assert report.per_pass("catalog", catalog_layers) == {"spark.jobs": 8.0}
    assert report.per_pass("catalog", catalog_layers, cold=True) == {"spark.jobs": 9.0}


def test_benchmark_json_matches_the_benchmark():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == report.per_layer_names(
        WORKLOADS
    )
