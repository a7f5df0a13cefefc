"""Golden end-to-end tests: both motor dataflows on the FIXTURES.md inputs.

Expected OK/KO membership and error contents per the row->behavior matrix
(FIXTURES.md §1-§2): 5 OK / 5 KO for both the JSON and CSV fixtures.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.config import load_metadata, select_dataflow
from ominimo_dynamic_data_pipeline_spark.pipeline import (
    compile_dataflow,
    run_dataflow,
)

REPO = Path(__file__).resolve().parent.parent
META = REPO / "examples" / "motor_pipeline.json"

EXPECTED_KO_ERRORS = {
    "P-20004": {"driver_age:must_not_be_null", "driver_age:must_be_numeric"},
    "P-20005": {
        "plate_number:must_be_non_empty",
        "plate_number:must_match_pattern",
        "driver_age:must_be_at_least_18.0",
    },
    "P-20006": {"policy_start_date:must_be_before_policy_end_date"},
    "P-20007": {"driver_age:must_not_be_null", "driver_age:must_be_numeric"},
    "P-20009": {
        "policy_start_date:must_be_valid_date",
        "policy_start_date:must_be_before_policy_end_date",
    },
}
# CSV: empty plate arrives as NULL (not ""), so notEmpty fails but pattern
# passes (null-permissive); likewise null start date passes dateBefore.
EXPECTED_KO_ERRORS_CSV = {
    "P-20004": {"driver_age:must_not_be_null", "driver_age:must_be_numeric"},
    "P-20005": {"plate_number:must_be_non_empty", "driver_age:must_be_at_least_18.0"},
    "P-20006": {"policy_start_date:must_be_before_policy_end_date"},
    "P-20007": {"driver_age:must_not_be_null", "driver_age:must_be_numeric"},
    "P-20009": {
        "policy_start_date:must_be_valid_date",
        "policy_start_date:must_be_before_policy_end_date",
    },
}


@pytest.fixture(scope="module")
def metadata():
    return load_metadata(META)


def _fixed_clock():
    return F.to_timestamp(F.lit("2026-01-01 00:00:00"))


def _run(spark, metadata, flow_name, input_path, tmp):
    flow = select_dataflow(metadata, flow_name)
    compiled = compile_dataflow(
        spark, flow, input_path_override=str(input_path), clock=_fixed_clock()
    )
    # Redirect sink + stats paths into tmp.
    flow2 = dict(compiled.dataflow)
    flow2["sinks"] = [
        {**s, "paths": [str(tmp / f"sink_{i}")]}
        for i, s in enumerate(flow2.get("sinks", []))
    ]
    for req in compiled.ctx.deferred_stats:
        req.output_path = str(tmp / "stats")
    compiled.dataflow = flow2
    return compiled, run_dataflow(compiled, write=True, verbose=False)


def test_json_dataflow_golden(spark, metadata, tmp_path):
    compiled, result = _run(
        spark, metadata, "motor-ingestion", REPO / "tests/data/motor_policies.json", tmp_path
    )
    ok = compiled.frames["validation_ok"]
    ko = compiled.frames["validation_ko"]

    ok_ids = {r["policy_number"] for r in ok.select("policy_number").collect()}
    assert ok_ids == {"P-20001", "P-20002", "P-20003", "P-20008", "P-20010"}

    ko_rows = {r["policy_number"]: set(r["validation_errors"]) for r in ko.collect()}
    assert ko_rows == EXPECTED_KO_ERRORS

    # Canonical schema after normalize+select+add_fields
    assert ok.columns == [
        "policy_number",
        "driver_age",
        "plate_number",
        "policy_start_date",
        "policy_end_date",
        "ingestion_dt",
    ]
    # Row 2's nested values surfaced through coalesce
    row2 = [r for r in ok.collect() if r["policy_number"] == "P-20002"][0]
    assert row2["driver_age"] == "45"
    assert row2["plate_number"] == "XYZ-222"
    assert row2["policy_start_date"] == "2024-03-01"

    # Stats sidecar document
    stats = result.stats["global_stats"]
    assert stats["total_records"] == 10
    assert stats["fields"]["driver_age"]["null_count"] == 2
    vs = stats["validation_stats"]
    assert (vs["valid_records"], vs["rejected_records"]) == (5, 5)
    assert vs["validation_pass_rate"] == 50.0
    top = {e["error"]: e["count"] for e in vs["top_validation_errors"]}
    assert top["driver_age:must_not_be_null"] == 2
    assert top["policy_start_date:must_be_before_policy_end_date"] == 2

    # Sidecar file written and parseable
    sidecar = json.loads((tmp_path / "stats" / "global_stats.json").read_text())
    assert sidecar["stats_name"] == "global_stats"

    # JSON sinks materialized
    ok_out = spark.read.json(str(tmp_path / "sink_0"))
    assert ok_out.count() == 5


def test_csv_dataflow_golden(spark, metadata, tmp_path):
    compiled, result = _run(
        spark, metadata, "motor-ingestion-csv", REPO / "tests/data/motor_policies.csv", tmp_path
    )
    ok = compiled.frames["validation_ok"]
    ko = compiled.frames["validation_ko"]

    ok_ids = {r["policy_number"] for r in ok.select("policy_number").collect()}
    assert ok_ids == {"P-20001", "P-20002", "P-20003", "P-20008", "P-20010"}
    ko_rows = {r["policy_number"]: set(r["validation_errors"]) for r in ko.collect()}
    assert ko_rows == EXPECTED_KO_ERRORS_CSV

    # CSV sink flattens the errors array to a comma-joined string.
    ko_out = spark.read.option("header", "true").csv(str(tmp_path / "sink_1"))
    errs = {
        r["policy_number"]: r["validation_errors"] for r in ko_out.collect()
    }
    assert errs["P-20006"] == "policy_start_date:must_be_before_policy_end_date"
    assert "," in errs["P-20004"]


def test_field_stats_approx_mode(spark):
    from ominimo_dynamic_data_pipeline_spark.operators.stats import (
        compute_field_stats,
    )

    df = spark.createDataFrame(
        [(i, float(i % 7), None if i % 3 == 0 else f"v{i % 11}") for i in range(200)],
        schema="id bigint, x double, s string",
    )
    exact = compute_field_stats(df)
    approx = compute_field_stats(df, approx=True)
    assert exact["total_records"] == approx["total_records"] == 200
    for f in ("id", "x", "s"):
        e, a = exact["fields"][f], approx["fields"][f]
        assert e["null_count"] == a["null_count"]
        # HLL at 5% rsd on tiny cardinalities is near-exact
        assert abs(a["distinct_count"] - e["distinct_count"]) <= max(
            2, 0.1 * e["distinct_count"]
        )
    assert exact["fields"]["x"]["min"] == 0.0
    assert exact["fields"]["x"]["max"] == 6.0
    assert exact["fields"]["s"]["null_count"] == 67


def test_run_logger_writes_timestamped_artifact(tmp_path):
    import logging
    from datetime import datetime

    from ominimo_dynamic_data_pipeline_spark.logger import (
        LOGGER_NAME,
        get_logger,
        setup_logging,
    )

    fixed = datetime(2026, 1, 15, 18, 30, 0)
    logger = setup_logging(log_dir=str(tmp_path), clock=lambda: fixed)
    logger.info("hello artifact")
    log_file = tmp_path / "pipeline_20260115_183000.log"
    assert log_file.exists()
    content = log_file.read_text()
    assert "Logging initialized" in content
    assert f"{LOGGER_NAME} - INFO - hello artifact" in content
    # idempotent for the same dir: no duplicate handlers
    again = setup_logging(log_dir=str(tmp_path), clock=lambda: fixed)
    assert again is logger
    assert len([h for h in logger.handlers
                if isinstance(h, logging.FileHandler)]) == 1
    assert get_logger() is logger
    # re-pointing to a new dir replaces the file handler
    other = tmp_path / "other"
    setup_logging(log_dir=str(other), clock=lambda: fixed)
    assert (other / "pipeline_20260115_183000.log").exists()
    assert len([h for h in logger.handlers
                if isinstance(h, logging.FileHandler)]) == 1
    for h in list(logger.handlers):
        logger.removeHandler(h)
        h.close()


def test_observe_mode_stats_ride_sink_write(spark, tmp_path):
    """mode=observe collects the stats document as observation metrics on
    the sink write (no dedicated stats job); without a sink action the
    request falls back to the dedicated-pass path."""
    meta = {
        "dataflows": [
            {
                "name": "observe-flow",
                "sources": [
                    {
                        "name": "policies",
                        "path": str(REPO / "tests/data/motor_policies.json"),
                        "format": "JSON",
                    }
                ],
                "transformations": [
                    {
                        "name": "obs_stats",
                        "type": "compute_stats",
                        "params": {
                            "input": "policies",
                            "name": "obs_stats",
                            "fields": ["policy_number"],
                            "mode": "observe",
                            "output_path": str(tmp_path / "stats"),
                        },
                    }
                ],
                "sinks": [
                    {
                        "input": "policies",
                        "paths": [str(tmp_path / "sink_obs")],
                        "format": "JSON",
                        "saveMode": "OVERWRITE",
                    }
                ],
            }
        ]
    }
    flow = select_dataflow(meta, "observe-flow")

    compiled = compile_dataflow(spark, flow)
    result = run_dataflow(compiled, write=True, verbose=False)
    doc = result.stats["obs_stats"]
    assert doc["total_records"] == 10
    assert doc["fields"]["policy_number"]["null_count"] == 0
    assert doc["fields"]["policy_number"]["distinct_count"] == 10
    sidecar = json.loads((tmp_path / "stats" / "obs_stats.json").read_text())
    assert sidecar["total_records"] == 10
    assert spark.read.json(str(tmp_path / "sink_obs")).count() == 10

    # no sink action -> falls back to the dedicated-job path
    compiled2 = compile_dataflow(spark, flow)
    result2 = run_dataflow(compiled2, write=False, verbose=False)
    assert result2.stats["obs_stats"]["total_records"] == 10


def test_sql_step_binds_named_parameters(spark, tmp_path):
    """The sql operator passes `args` as Spark named parameters — values
    bind as literals (injection-safe), never spliced into the SQL text."""
    meta = {
        "dataflows": [
            {
                "name": "sql-args",
                "sources": [
                    {
                        "name": "policies",
                        "path": str(REPO / "tests/data/motor_policies.json"),
                        "format": "JSON",
                    }
                ],
                "transformations": [
                    {
                        "name": "filtered",
                        "type": "sql",
                        "params": {
                            "query": (
                                "SELECT policy_number FROM policies "
                                "WHERE policy_number > :cutoff"
                            ),
                            "args": {"cutoff": "P-20008"},
                        },
                    }
                ],
                "sinks": [],
            }
        ]
    }
    flow = select_dataflow(meta, "sql-args")
    compiled = compile_dataflow(spark, flow)
    got = {
        r["policy_number"] for r in compiled.frames["filtered"].collect()
    }
    assert got == {"P-20009", "P-20010"}


@pytest.mark.parametrize(
    "flow_name, fixture, fmt",
    [
        ("motor-ingestion", "motor_policies.json", "json"),
        ("motor-ingestion-csv", "motor_policies.csv", "csv"),
    ],
)
def test_one_run_clock_shared_by_ok_and_ko(spark, metadata, tmp_path, flow_name, fixture, fmt):
    """Without an injected clock, current_timestamp still resolves once
    per compile: the OK and KO writes (separate queries) carry one
    shared ingestion_dt."""
    flow = select_dataflow(metadata, flow_name)
    compiled = compile_dataflow(
        spark, flow, input_path_override=str(REPO / "tests/data" / fixture)
    )
    compiled.dataflow = {
        **compiled.dataflow,
        "sinks": [
            {**s, "paths": [str(tmp_path / f"sink_{i}")]}
            for i, s in enumerate(compiled.dataflow["sinks"])
        ],
    }
    for req in compiled.ctx.deferred_stats:
        req.output_path = str(tmp_path / "stats")
    run_dataflow(compiled, write=True)

    reader = spark.read.option("header", "true") if fmt == "csv" else spark.read
    stamps = set()
    for i in range(2):
        out = reader.format(fmt).load(str(tmp_path / f"sink_{i}"))
        stamps |= {r["ingestion_dt"] for r in out.select("ingestion_dt").collect()}
    assert len(stamps) == 1 and None not in stamps
