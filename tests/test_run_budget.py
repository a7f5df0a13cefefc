"""Counter budget of one dataflow run, read from Spark's status stores in
a fresh process.  The run phase must scan the source once and run a
fixed set of jobs whatever the process's hash seed (frame caching used
to follow Python ``set`` order, so 2-4 source reads depended on
``PYTHONHASHSEED``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
INPUT_ROWS = 10  # tests/data/motor_policies.json

# JSON inference (1) + exact field stats over the shared cache (4: the
# cache materialization and the aggregate's shuffle stages) + the OK and
# KO sink writes (2), validation stats riding those writes
JOB_BUDGET = 7

_CHILD = r"""
import json, sys, tempfile
from pathlib import Path

repo = Path(sys.argv[1])
sys.path.insert(0, str(repo))
from ominimo_dynamic_data_pipeline_spark import get_spark
from ominimo_dynamic_data_pipeline_spark.config import load_metadata, select_dataflow
from ominimo_dynamic_data_pipeline_spark.pipeline import compile_dataflow, run_dataflow

spark = get_spark(app_name="run_budget")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
jsc = sc._jsc.sc()
sql_store = spark._jsparkSession.sharedState().statusStore()

flow = dict(select_dataflow(load_metadata(repo / "examples/motor_pipeline.json"), "motor-ingestion"))
out = Path(tempfile.mkdtemp(prefix="run_budget_"))
flow["sources"] = [{**flow["sources"][0], "path": str(repo / "tests/data/motor_policies.json")}]
flow["sinks"] = [{**s, "paths": [str(out / p) for p in s["paths"]]} for s in flow["sinks"]]
flow["transformations"] = [
    {**t, "params": {**t["params"], "output_path": str(out / "stats")}}
    if "output_path" in t.get("params", {}) else t
    for t in flow["transformations"]
]

def stages():
    empty = sc._gateway.new_array(spark._jvm.double, 0)
    seq = jsc.statusStore().stageList(None, False, False, empty, None)
    return [seq.apply(i) for i in range(seq.size())]

jsc.listenerBus().waitUntilEmpty()
first_execution = sql_store.executionsList().size()
jobs_before = set(sc.statusTracker().getJobIdsForGroup(None))
run_dataflow(compile_dataflow(spark, flow), write=True)
jsc.listenerBus().waitUntilEmpty()

# rows the file-scan nodes produced: a scan reused through the cache
# reports no rows, so this counts real reads of the source data
scan_rows = 0
executions = sql_store.executionsList()
for i in range(first_execution, executions.size()):
    exec_id = executions.apply(i).executionId()
    values = sql_store.executionMetrics(exec_id)
    nodes = sql_store.planGraph(exec_id).allNodes()
    for k in range(nodes.size()):
        node = nodes.apply(k)
        if not node.name().startswith("Scan "):
            continue
        metrics = node.metrics()
        for m in range(metrics.size()):
            metric = metrics.apply(m)
            value = values.get(metric.accumulatorId())
            if metric.name() == "number of output rows" and value.isDefined():
                scan_rows += int(value.get().replace(",", ""))

all_stages = stages()
print("BUDGET " + json.dumps({
    "jobs": len(set(sc.statusTracker().getJobIdsForGroup(None)) - jobs_before),
    "stages": len(all_stages),
    "input_records": sum(s.inputRecords() for s in all_stages),
    "scan_rows": scan_rows,
}))
spark.stop()
"""


def _counters(seed: int) -> dict:
    env = {**os.environ, "PYTHONHASHSEED": str(seed)}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("BUDGET "))
    return json.loads(line[len("BUDGET "):])


@pytest.fixture(scope="module")
def counters() -> dict[int, dict]:
    return {seed: _counters(seed) for seed in (0, 4)}


def test_run_counters_do_not_depend_on_the_hash_seed(counters):
    assert counters[0] == counters[4]


def test_run_scans_the_source_once(counters):
    for c in counters.values():
        assert c["scan_rows"] == INPUT_ROWS
        # stage input = inference read + one data scan, plus one record
        # per cached batch a reader fetches (far below a second scan)
        assert c["input_records"] // INPUT_ROWS == 2


def test_run_job_budget(counters):
    for c in counters.values():
        assert c["jobs"] == JOB_BUDGET
