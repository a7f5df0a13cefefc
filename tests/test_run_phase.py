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
    # a persisting kernel step whose pairs are written beside the failure
    pairs = {
        "name": "pairs",
        "type": "near_dup_pairs",
        "params": {"input": "rows", "id_col": "id", "text_col": "code"},
    }
    flow = _flow(
        tmp_path,
        extra_steps=[boom, pairs],
        sinks=[
            {"input": "ok", "paths": [str(tmp_path / "out_ok")], "format": "JSON"},
            {"input": "boom", "paths": [str(tmp_path / "out_boom")], "format": "JSON"},
            {"input": "pairs", "paths": [str(tmp_path / "out_pairs")], "format": "JSON"},
        ],
    )
    compiled = compile_dataflow(spark, flow)
    assert compiled.ctx.persisted
    with pytest.raises(Exception, match="injected sink failure"):
        run_dataflow(compiled, write=True)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert all(_not_cached(df) for df in compiled.frames.values())
    assert all(_not_cached(df) for df in compiled.ctx.persisted)
    # partial contract: the healthy sink finished, no stats sidecar
    assert spark.read.json(str(tmp_path / "out_ok")).count() == 2
    assert not (tmp_path / "stats").exists()


@pytest.fixture
def documents(sf_dir) -> str:
    """The sf0.01 documents table, which has near-duplicate texts."""
    path = Path(sf_dir).with_name("sf0.01") / "documents.parquet"
    if not path.exists():
        pytest.skip("sf0.01 testdata missing")
    return str(path)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs_flow(documents: str, name: str, steps, sinks=()) -> dict:
    return {
        "name": name,
        "sources": [{"name": "docs", "path": documents, "format": "PARQUET"}],
        "transformations": steps,
        "sinks": list(sinks),
    }


def _slice(name: str, condition: str) -> dict:
    return {
        "name": name,
        "type": "filter",
        "params": {"input": "docs", "condition": condition},
    }


def test_dataflow_runs_release_the_frames_their_kernels_persisted(spark, tmp_path, documents):
    """Each near_dedup run materializes its shingle frame and leaves the
    session with as many persistent RDDs as it found."""
    for k in range(3):
        flow = _docs_flow(
            documents,
            f"near-dedup-{k}",
            [
                _slice("slice", f"doc_id % 3 = {k}"),
                {"name": "deduped", "type": "near_dedup", "params": {"input": "slice"}},
            ],
            [{"input": "deduped", "paths": [str(tmp_path / f"out{k}")], "format": "JSON"}],
        )
        before = _persistent_rdds(spark)
        compiled = compile_dataflow(spark, flow)
        run_dataflow(compiled, write=True)
        assert _persistent_rdds(spark) == before
        assert len(compiled.ctx.persisted) == 1


def test_one_run_keeps_the_frames_another_compile_persisted(spark, tmp_path, documents):
    from pyspark import StorageLevel

    flow_b = _docs_flow(
        documents,
        "incremental-near-dedup",
        [
            _slice("batch", "doc_id % 2 = 0"),
            _slice("corpus", "doc_id % 2 = 1"),
            {
                "name": "fresh",
                "type": "incremental_near_dedup",
                "params": {"input": "batch", "reference": "corpus"},
            },
        ],
        [{"input": "fresh", "paths": [str(tmp_path / "fresh")], "format": "JSON"}],
    )
    compiled_b = compile_dataflow(spark, flow_b)
    frames_b = compiled_b.ctx.persisted
    assert len(frames_b) == 2
    compiled_a = compile_dataflow(spark, _docs_flow(documents, "unrelated", []))
    run_dataflow(compiled_a, write=False)
    assert all(df.storageLevel == StorageLevel.MEMORY_AND_DISK for df in frames_b)
    run_dataflow(compiled_b, write=True)
    assert all(_not_cached(df) for df in frames_b)


def test_a_run_leaves_the_caches_it_did_not_create(spark, tmp_path):
    """A compile whose kernel finds its intermediate already cached by
    another owner does not record it, so its run leaves it cached."""
    pairs = {
        "name": "pairs",
        "type": "near_dup_pairs",
        "params": {"input": "rows", "id_col": "id", "text_col": "code"},
    }
    flow = _flow(tmp_path, extra_steps=[pairs])
    first = compile_dataflow(spark, flow)
    second = compile_dataflow(spark, flow)
    assert len(first.ctx.persisted) == 1
    assert second.ctx.persisted == []
    run_dataflow(second, write=True)
    assert not _not_cached(first.ctx.persisted[0])
    run_dataflow(first, write=False)
    assert _not_cached(first.ctx.persisted[0])


def test_failed_compile_releases_what_it_persisted(spark, tmp_path, monkeypatch):
    """rfm_segments persists its per-user rollup and materializes it at
    compile (its NTILE census jobs); a later step that fails leaves no
    cache behind."""
    from ominimo_dynamic_data_pipeline_spark import session

    persisted = []
    persist = session.persist_intermediate

    def spy(df):
        persisted.append(persist(df))
        return persisted[-1]

    monkeypatch.setattr(session, "persist_intermediate", spy)
    rows = [
        {"user": u, "ts": f"2024-01-{d:02d} 00:00:00", "v": u * d}
        for u in range(1, 7)
        for d in range(1, 1 + u)
    ]
    flow = {
        "name": "rfm-then-fail",
        "sources": [{"name": "events", "path": _source(tmp_path, rows), "format": "JSON"}],
        "transformations": [
            {
                "name": "rfm",
                "type": "rfm_segments",
                "params": {"input": "events", "user_col": "user", "ts_col": "ts", "value_col": "v"},
            },
            {
                "name": "broken",
                "type": "filter",
                "params": {"input": "rfm", "condition": "no_such_column > 0"},
            },
        ],
        "sinks": [],
    }
    with pytest.raises(Exception, match="no_such_column"):
        compile_dataflow(spark, flow)
    assert len(persisted) == 1
    assert _not_cached(persisted[0])


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
