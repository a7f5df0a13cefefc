"""Tracing for the benchmark's traced runs.

Everything here observes the program from outside: spans are recorded
around the benchmark's own calls into the package, Spark jobs are stamped
with a job group per span, and per-layer counters are read from Spark's
status stores (jobs, stages, SQL executions, codegen metrics) and from a
``StreamingQueryListener`` the benchmark registers.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import parse_count, parse_size


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id.

    Each span sets a Spark job group while it is open, so the jobs it
    submits can be attributed to it afterwards."""

    enabled = True

    def __init__(self, spark: SparkSession, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc._jsc.clearJobGroup()


class StreamStats(StreamingQueryListener):
    """Running totals over every micro-batch progress event."""

    def __init__(self) -> None:
        self.totals = {
            "streaming.batches": 0.0,
            "streaming.add_batch_s": 0.0,
            "streaming.fixed_s": 0.0,
            "state.update_s": 0.0,
            "state.commit_s": 0.0,
            "state.rows": 0.0,
        }

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = p.durationMs or {}
        add = dur.get("addBatch", 0) / 1000.0
        self.totals["streaming.batches"] += 1
        self.totals["streaming.add_batch_s"] += add
        self.totals["streaming.fixed_s"] += dur.get("triggerExecution", 0) / 1000.0 - add
        for op in p.stateOperators or []:
            self.totals["state.update_s"] += op.allUpdatesTimeMs / 1000.0
            self.totals["state.commit_s"] += op.commitTimeMs / 1000.0
            self.totals["state.rows"] += op.numRowsUpdated

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# Physical nodes that ship rows to Python workers and back.
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")

_MB = 1e6


class StatusProbe:
    """Counters of one operation, as deltas of Spark's status stores
    between :meth:`mark` and :meth:`delta`."""

    def __init__(self, spark: SparkSession):
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_time = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self.streams = StreamStats()
        spark.streams.addListener(self.streams)

    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def _stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))

    def _last_execution(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def mark(self) -> dict[str, Any]:
        self._settle()
        return {
            "job": max((j["jobId"] for j in self._jobs()), default=-1),
            "stage": max((s["stageId"] for s in self._stages()), default=-1),
            "execution": self._last_execution(),
            "compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "compile_ns": self._codegen_time.compileTime(),
            "streams": dict(self.streams.totals),
        }

    def delta(self, mark: dict[str, Any], spans: list[dict[str, Any]]) -> dict[str, Any]:
        """Counters since ``mark``.  Each of ``spans`` is also given the
        jobs, stages, tasks and executor run time of the jobs submitted
        under its job group."""
        self._settle()
        jobs = [j for j in self._jobs() if j["jobId"] > mark["job"]]
        stages = [
            s
            for s in self._stages()
            if s["stageId"] > mark["stage"] and s["status"] in ("COMPLETE", "FAILED")
        ]
        by_id = {s["stageId"]: s for s in stages}
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        for span in spans:
            own_jobs = by_group.get(span["group"], [])
            own_stages = [by_id[i] for j in own_jobs for i in j["stageIds"] if i in by_id]
            span["jobs"] = len(own_jobs)
            span["stages"] = len(own_stages)
            span["tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in own_stages)
            span["exec_run_s"] = sum(s["executorRunTime"] for s in own_stages) / 1000.0
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1000.0,
            "spill.disk_mb": sum(s["diskBytesSpilled"] for s in stages) / _MB,
            "spill.mem_mb": sum(s["memoryBytesSpilled"] for s in stages) / _MB,
            "scan.rows": sum(s["inputRecords"] for s in stages),
            "scan.mb": sum(s["inputBytes"] for s in stages) / _MB,
            "output.rows": sum(s["outputRecords"] for s in stages),
            "output.mb": sum(s["outputBytes"] for s in stages) / _MB,
            "codegen.compiles": self._codegen.METRIC_COMPILATION_TIME().getCount()
            - mark["compiles"],
            "codegen.compile_s": (self._codegen_time.compileTime() - mark["compile_ns"]) / 1e9,
        }
        out.update(self._python_io(mark["execution"]))
        for key, total in self.streams.totals.items():
            out[key] = total - mark["streams"][key]
        return out

    def _python_io(self, after_execution: int) -> dict[str, float]:
        """Rows and bytes through the Python-eval nodes of every SQL
        execution newer than ``after_execution``."""
        rows = 0
        size = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            exec_id = execs.apply(i).executionId()
            if exec_id <= after_execution:
                continue
            ids: dict[int, str] = {}
            nodes = self._sql.planGraph(exec_id).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PYTHON_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    ids[metric.accumulatorId()] = metric.name()
            if not ids:
                continue
            values = self._sql.executionMetrics(exec_id)
            for acc, name in ids.items():
                opt = values.get(acc)
                if not opt.isDefined():
                    continue
                text = opt.get()
                if name == "number of output rows":
                    rows += parse_count(text)
                elif name.startswith("data sent to Python") or name.startswith(
                    "data returned from Python"
                ):
                    size += parse_size(text)
        return {"python.rows": rows, "python.mb": size / _MB}
