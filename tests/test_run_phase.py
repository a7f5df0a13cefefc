"""Run-phase contracts of ``pipeline.run_dataflow``: validation stats that
ride the OK/KO sink writes match the dedicated-job path exactly, a failed
run leaves no job running and no frame cached, sinks sharing a path keep
declaration order, and every job carries the caller's job group."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from ominimo_dynamic_data_pipeline_spark import pipeline
from ominimo_dynamic_data_pipeline_spark.io import sink_groups
from ominimo_dynamic_data_pipeline_spark.operators.stats import (
    compute_validation_stats,
)
from ominimo_dynamic_data_pipeline_spark.pipeline import (
    compile_dataflow,
    run_dataflow,
)

ROWS = [
    {"id": 1, "code": "AB-1", "age": 30},
    {"id": 2, "code": "zz", "age": 10},  # fails both code patterns + min
    {"id": 3, "code": "", "age": None},  # empty: notEmpty + both patterns
    {"id": 4, "code": "AB-2", "age": 200},
    {"id": 5, "code": "AC-3", "age": 40},
    {"id": 6, "code": "xy", "age": 50},
]

RULES = [
    # two checks on one field emit the same label
    {"field": "code", "validations": ["notEmpty", "pattern:^[A-Z]{2}-\\d$", "pattern:^A"]},
    {"field": "age", "validations": ["notNull", "min:18", "max:100"]},
]


def _source(tmp: Path, rows=ROWS) -> str:
    path = tmp / "input.json"
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return str(path)


def _flow(tmp: Path, rules=RULES, rows=ROWS, extra_steps=(), sinks=None):
    steps = [
        {
            "name": "validation",
            "type": "validate_fields",
            "params": {
                "input": "rows",
                "validations": rules,
                "ok_output": "ok",
                "ko_output": "ko",
            },
        },
        *extra_steps,
        {
            "name": "stats",
            "type": "compute_stats",
            "params": {
                "input": "rows",
                "fields": ["id", "code", "age"],
                "include_validation_stats": True,
                "ok_input": "ok",
                "ko_input": "ko",
                "output_path": str(tmp / "stats"),
            },
        },
    ]
    if sinks is None:
        sinks = [
            {"input": "ok", "paths": [str(tmp / "out_ok")], "format": "JSON"},
            {"input": "ko", "paths": [str(tmp / "out_ko")], "format": "JSON"},
        ]
    return {
        "name": "run-phase",
        "sources": [{"name": "rows", "path": _source(tmp, rows), "format": "JSON"}],
        "transformations": steps,
        "sinks": sinks,
    }


@pytest.fixture
def dedicated_calls(monkeypatch):
    """Records every dedicated-job validation-stats call of a run."""
    calls = []

    def spy(ok, ko, *args, **kwargs):
        calls.append((ok, ko))
        return compute_validation_stats(ok, ko, *args, **kwargs)

    monkeypatch.setattr(pipeline, "compute_validation_stats", spy)
    return calls


def _parity(spark, flow, strict=True, verbose=False):
    compiled = compile_dataflow(spark, flow, strict=strict)
    result = run_dataflow(compiled, write=True, verbose=verbose)
    got = result.stats["stats"]["validation_stats"]
    req = compiled.ctx.deferred_stats[0]
    want = compute_validation_stats(
        compiled.frames[req.ok_input], compiled.frames[req.ko_input]
    )
    # same values, same key order, same error order
    assert json.dumps(got) == json.dumps(want)
    return got, result


def test_folded_stats_count_a_label_emitted_by_two_checks(spark, tmp_path, dedicated_calls):
    got, _ = _parity(spark, _flow(tmp_path))
    assert dedicated_calls == []
    top = {e["error"]: e["count"] for e in got["top_validation_errors"]}
    # rows 2, 3 and 6 each fail both patterns: two hits per row
    assert top["code:must_match_pattern"] == 6
    assert (got["valid_records"], got["rejected_records"]) == (2, 4)


def test_folded_stats_without_rejects_have_no_top_errors(spark, tmp_path, dedicated_calls):
    rows = [r for r in ROWS if r["id"] in (1, 5)]
    got, _ = _parity(spark, _flow(tmp_path, rows=rows))
    assert dedicated_calls == []
    assert got["rejected_records"] == 0
    assert "top_validation_errors" not in got


def test_folded_stats_skip_unknown_check_labels(spark, tmp_path, dedicated_calls):
    rules = [*RULES, {"field": "id", "validations": ["noSuchCheck"]}]
    got, _ = _parity(spark, _flow(tmp_path, rules=rules), strict=False)
    assert dedicated_calls == []
    assert not any("unknown_validation" in e["error"] for e in got["top_validation_errors"])


def test_ko_input_not_from_validate_takes_the_dedicated_path(spark, tmp_path, dedicated_calls):
    narrowed = {
        "name": "ko_narrow",
        "type": "filter",
        "params": {"input": "ko", "output": "ko_narrow", "condition": "id > 2"},
    }
    flow = _flow(
        tmp_path,
        extra_steps=[narrowed],
        sinks=[
            {"input": "ok", "paths": [str(tmp_path / "out_ok")], "format": "JSON"},
            {"input": "ko_narrow", "paths": [str(tmp_path / "out_ko")], "format": "JSON"},
        ],
    )
    flow["transformations"][-1]["params"]["ko_input"] = "ko_narrow"
    got, _ = _parity(spark, flow)
    assert len(dedicated_calls) == 1
    assert got["rejected_records"] == 3


def test_folded_stats_under_verbose(spark, tmp_path, dedicated_calls):
    got, result = _parity(spark, _flow(tmp_path), verbose=True)
    assert dedicated_calls == []
    assert result.counts == {"ok": 2, "ko": 4}


def _not_cached(df) -> bool:
    level = df.storageLevel
    return not (level.useMemory or level.useDisk or level.useOffHeap)


def test_failed_sink_waits_for_all_actions_and_releases_caches(spark, tmp_path):
    boom = {
        "name": "boom",
        "type": "with_columns",
        "params": {
            "input": "ko",
            "output": "boom",
            "columns": {
                "boom": "CASE WHEN id > 0 THEN raise_error('injected sink failure') ELSE 'x' END"
            },
        },
    }
    flow = _flow(
        tmp_path,
        extra_steps=[boom],
        sinks=[
            {"input": "ok", "paths": [str(tmp_path / "out_ok")], "format": "JSON"},
            {"input": "boom", "paths": [str(tmp_path / "out_boom")], "format": "JSON"},
        ],
    )
    compiled = compile_dataflow(spark, flow)
    with pytest.raises(Exception, match="injected sink failure"):
        run_dataflow(compiled, write=True)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert all(_not_cached(df) for df in compiled.frames.values())
    # partial contract: the healthy sink finished, no stats sidecar
    assert spark.read.json(str(tmp_path / "out_ok")).count() == 2
    assert not (tmp_path / "stats").exists()


def test_sinks_sharing_a_path_keep_declaration_order(spark, tmp_path):
    shared = str(tmp_path / "shared")
    flow = _flow(
        tmp_path,
        sinks=[
            {"input": "ok", "paths": [shared], "format": "JSON", "saveMode": "overwrite"},
            {"input": "ko", "paths": [str(tmp_path / "out_ko")], "format": "JSON"},
            {"input": "ko", "paths": [shared + "/"], "format": "JSON", "saveMode": "append"},
        ],
    )
    run_dataflow(compile_dataflow(spark, flow), write=True)
    # overwrite-then-append keeps both; the reverse order would keep 2 rows
    assert spark.read.json(shared).count() == len(ROWS)


def test_sink_groups_join_sinks_by_path_or_table():
    sinks = [
        {"input": "a", "paths": ["p1", "p2"]},
        {"input": "b", "path": "p3"},
        {"input": "c", "paths": ["p4"], "table": "t"},
        {"input": "d", "paths": ["p2/"]},
        {"input": "e", "paths": ["p5"], "table": "t"},
    ]
    groups = [[s["input"] for s in g] for g in sink_groups(sinks)]
    assert groups == [["a", "d"], ["b"], ["c", "e"]]


def _ungrouped_jobs(sc) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _under_group(spark, group, fn):
    sc = spark.sparkContext
    before = _ungrouped_jobs(sc)
    sc.setJobGroup(group, "job-group propagation test")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert _ungrouped_jobs(sc) - before == set()
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_every_job_of_a_run_carries_the_callers_job_group(spark, tmp_path):
    flow = _flow(tmp_path)
    _under_group(
        spark,
        "g",
        lambda: run_dataflow(compile_dataflow(spark, flow), write=True),
    )


def test_rfm_branch_jobs_carry_the_callers_job_group(spark, sf_dir):
    from ominimo_dynamic_data_pipeline_spark.queries import QUERIES

    _under_group(
        spark,
        "g_rfm",
        lambda: QUERIES["q180_rfm_segments"](spark, sf_dir).collect(),
    )
