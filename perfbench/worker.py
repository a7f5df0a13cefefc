"""One fresh benchmark process: start a session, run the workload cold,
warm it up, time it for a fixed window, and check its outputs.

    python3 perfbench/worker.py SPEC.json RESULT.json

``run.py`` writes the spec and starts this module once per sample
process; the result is a JSON document of raw samples and counters.
"""

from __future__ import annotations

import time

BORN = time.perf_counter()

import gc
import json
import sys
import traceback
from pathlib import Path
from typing import Any, Callable

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import motor  # noqa: E402
from perfbench.stats import self_times  # noqa: E402
from perfbench.tracing import NullTracer, StatusProbe, Tracer  # noqa: E402


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def jvm_retained_mb(spark) -> float:
    """Heap and non-heap memory the session still holds after a full
    collection (Python first, so py4j releases the JVM objects it pins)."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / (1 << 20)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Run:
    """Operation bookkeeping shared by both workload kinds."""

    def __init__(self, spark, spec: dict[str, Any]):
        self.spark = spark
        self.spec = spec
        self.traced = bool(spec["trace"])
        self.tracer = Tracer(spark, spec["run_id"]) if self.traced else NullTracer()
        self.probe = StatusProbe(spark) if self.traced else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, list[float]] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def attempt(self, name: str, op: Callable[[], Any]) -> tuple[float, Any]:
        """Run one operation; returns (wall seconds, result or None)."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            out = op()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            return time.perf_counter() - start, None
        return time.perf_counter() - start, out

    def record(self, prefix: str, counters: dict[str, float]) -> None:
        for key, value in counters.items():
            self.layers.setdefault(f"{prefix}{key}", []).append(float(value))


class MotorWorkload:
    """The motor-ingestion dataflow, one pass = compile + run."""

    def __init__(self, run: Run):
        from ominimo_dynamic_data_pipeline_spark import pipeline

        self.run = run
        self.spec = run.spec
        self.flow = json.loads(Path(self.spec["flow"]).read_text())
        self.sinks = motor.sink_paths(self.flow)
        self.pipeline = pipeline
        if run.traced:
            # time io.read_sources from outside: wrap the name the
            # pipeline module calls
            original = pipeline.read_sources

            def timed_read_sources(*args, **kwargs):
                with run.tracer.span("io.reader"):
                    return original(*args, **kwargs)

            pipeline.read_sources = timed_read_sources

    def one_pass(self):
        tracer = self.run.tracer
        with tracer.span("pass"):
            with tracer.span("pipeline.compile"):
                compiled = self.pipeline.compile_dataflow(self.run.spark, self.flow)
            with tracer.span("pipeline.run"):
                return self.pipeline.run_dataflow(compiled, write=True)

    def timed_pass(self, traced: bool, prefix: str = "") -> float:
        run = self.run
        mark = run.probe.mark() if traced else None
        first_span = len(run.tracer.spans) if traced else 0
        wall, result = run.attempt("motor pass", self.one_pass)
        if traced and result is not None:
            spans = run.tracer.spans[first_span:]
            counters = run.probe.delta(mark, spans)
            counters.update(self.span_walls(spans))
            counters.update(self.output_files())
            run.record(prefix, counters)
        return wall

    @staticmethod
    def span_walls(spans: list[dict[str, Any]]) -> dict[str, float]:
        names = {
            "pipeline.compile": "pipeline.compile_s",
            "pipeline.run": "pipeline.run_s",
            "io.reader": "io.reader.infer_s",
        }
        own = self_times(spans)
        walls = dict.fromkeys(names.values(), 0.0)
        walls["pipeline.compile_self_s"] = 0.0
        for s in spans:
            if s["name"] in names:
                walls[names[s["name"]]] += s["end"] - s["start"]
            if s["name"] == "pipeline.compile":
                walls["pipeline.compile_self_s"] += own[s["id"]]
        return walls

    def output_files(self) -> dict[str, float]:
        files = sum(
            1 for path in self.sinks.values() for f in Path(path).iterdir() if f.name.startswith("part-")
        )
        return {"io.writer.files": files}

    def check(self) -> None:
        """Compare the sinks on disk with the OK/KO split the generator
        fixed; a mismatch counts as one failed operation."""
        run = self.run
        run.attempted += 1
        want = {"validation_ok": self.spec["expected_ok"], "validation_ko": self.spec["expected_ko"]}
        for frame, path in self.sinks.items():
            ok_side = frame == "validation_ok"
            rows = 0
            for f in Path(path).glob("part-*"):
                for line in f.read_text().splitlines():
                    if not line:
                        continue
                    rows += 1
                    cls = json.loads(line)["policy_number"].rsplit("-", 1)[0]
                    if (cls in motor.OK_CLASSES) != ok_side:
                        run.fail(f"{cls} row landed in {frame}")
                        return
            if rows != want[frame]:
                run.fail(f"{frame}: {rows} rows, expected {want[frame]}")
                return


class CatalogWorkload:
    """Named catalog queries; one operation = construct + noop-force."""

    def __init__(self, run: Run):
        from ominimo_dynamic_data_pipeline_spark.queries import QUERIES
        from ominimo_dynamic_data_pipeline_spark.streaming import ops as stream_ops

        self.run = run
        self.sf_dir = run.spec["sf_dir"]
        self.names = run.spec["queries"]
        self.queries = QUERIES
        self.stream_ops = stream_ops

    def one_query(self, name: str) -> bool:
        tracer = self.run.tracer
        with tracer.span(f"query.{name}"):
            with tracer.span("queries.construct"):
                df = self.queries[name](self.run.spark, self.sf_dir)
            with tracer.span("queries.execute"):
                force(df)
        return True

    def timed_query(self, name: str, traced: bool, prefix: str = "") -> float:
        run = self.run
        mark = run.probe.mark() if traced else None
        first_span = len(run.tracer.spans) if traced else 0
        wall, ok = run.attempt(name, lambda: self.one_query(name))
        if traced and ok:
            spans = run.tracer.spans[first_span:]
            counters = run.probe.delta(mark, spans)
            for s in spans:
                if s["name"] in ("queries.construct", "queries.execute"):
                    key = f"{s['name']}_s"
                    counters[key] = counters.get(key, 0.0) + s["end"] - s["start"]
            run.record(f"{prefix}{name}:", counters)
        self.stream_ops.cleanup_scratch(run.spark)
        return wall

    def check(self) -> None:
        """Collect each query once and compare it with its DuckDB oracle."""
        sys.path.insert(0, str(Path(self.run.spec["root"]) / "tools"))
        from oracle_check import compare, duck_connect
        from ominimo_dynamic_data_pipeline_spark.queries import ORACLES

        run = self.run
        con = duck_connect(self.sf_dir)
        try:
            for name in self.names:
                run.attempted += 1
                try:
                    got = self.queries[name](run.spark, self.sf_dir).toPandas()
                    want = con.execute(ORACLES[name]).df()
                    problems = compare(name, got, want)
                except Exception:  # noqa: BLE001 - counted as a failed check
                    problems = [traceback.format_exc(limit=3)]
                self.stream_ops.cleanup_scratch(run.spark)
                if problems:
                    run.fail(f"{name} oracle: {problems[:3]}")
        finally:
            con.close()


def run_motor(wl: MotorWorkload, spec: dict[str, Any], out: dict[str, Any]) -> None:
    run = wl.run
    out["cold_s"] = wl.timed_pass(run.traced, prefix="cold:")
    wl.check()
    for _ in range(spec["warmup"]):
        wl.timed_pass(traced=False)
    samples: list[float] = []
    traced_samples: list[float] = []
    deadline = time.perf_counter() + spec["window_s"]
    i = 0
    while time.perf_counter() < deadline or len(samples) < spec["min_samples"]:
        traced = run.traced and i % 2 == 1
        wall = wl.timed_pass(traced)
        (traced_samples if traced else samples).append(wall)
        i += 1
    wl.check()
    out["warm"] = {"pass": samples}
    out["warm_traced"] = {"pass": traced_samples}


def run_catalog(wl: CatalogWorkload, spec: dict[str, Any], out: dict[str, Any]) -> None:
    """Each query runs once cold and is then repeated back to back; later
    rounds (while the window lasts) run it once more untimed first, since
    the queries in between may have evicted its generated classes."""
    run = wl.run
    samples: dict[str, list[float]] = {n: [] for n in wl.names}
    traced_samples: dict[str, list[float]] = {n: [] for n in wl.names}
    cold: dict[str, float] = {}

    def repeats(name: str) -> None:
        # a traced run alternates untraced and traced repeats
        for r in range(spec["repeats"] * (2 if run.traced else 1)):
            traced = run.traced and r % 2 == 1
            wall = wl.timed_query(name, traced)
            (traced_samples if traced else samples)[name].append(wall)

    deadline = time.perf_counter() + spec["window_s"]
    for name in wl.names:
        cold[name] = wl.timed_query(name, run.traced, prefix="cold:")
        repeats(name)
    while time.perf_counter() < deadline:
        for name in wl.names:
            wl.timed_query(name, traced=False)
            repeats(name)
    out["cold_s"] = sum(cold.values())
    out["cold_by_query"] = cold
    out["warm"] = samples
    out["warm_traced"] = traced_samples


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    out_path = Path(sys.argv[2])
    from ominimo_dynamic_data_pipeline_spark.session import estimate_input_bytes, get_spark

    out: dict[str, Any] = {"phases": {"imported": time.perf_counter() - BORN}}
    start = time.perf_counter()
    spark = get_spark(input_bytes=estimate_input_bytes(*spec["inputs"]))
    spark.range(1).count()
    out["setup_s"] = time.perf_counter() - start
    spark.sparkContext.setLogLevel("ERROR")

    run = Run(spark, spec)
    if spec["kind"] == "motor":
        wl = MotorWorkload(run)
        run_motor(wl, spec, out)
    else:
        wl = CatalogWorkload(run)
        run_catalog(wl, spec, out)
    out["phases"]["measured"] = time.perf_counter() - BORN
    out["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    out["retained_mb"] = jvm_retained_mb(spark)
    if spec["check"] and spec["kind"] != "motor":
        wl.check()
    out["attempted"] = run.attempted
    out["failed"] = run.failed
    out["errors"] = run.errors
    out["layers"] = run.layers
    if run.traced:
        out["spans"] = run.tracer.spans
    out["phases"]["checked"] = time.perf_counter() - BORN
    spark.stop()
    out["phases"]["stopped"] = time.perf_counter() - BORN
    out_path.write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
