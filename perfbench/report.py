"""Turn the workers' raw samples into the benchmark's metrics."""

from __future__ import annotations

import os
import statistics
from typing import Any

from perfbench.stats import error_rate, median_of, merge_samples, per_query_sum, self_times

END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
)

# Per-pass counters read from Spark's status stores, the streaming
# listener and the benchmark's own spans (see tracing.py).
LAYER_COUNTERS = (
    ("io.reader.infer_s", "s"),
    ("pipeline.compile_s", "s"),
    ("pipeline.compile_self_s", "s"),
    ("pipeline.run_s", "s"),
    ("io.writer.files", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"),
    ("spill.disk_mb", "MB"),
    ("spill.mem_mb", "MB"),
    ("scan.rows", "count"),
    ("scan.mb", "MB"),
    ("codegen.compiles", "count"),
    ("codegen.compile_s", "s"),
    ("python.rows", "count"),
    ("python.mb", "MB"),
    ("queries.construct_s", "s"),
    ("queries.execute_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.fixed_s", "s"),
    ("state.update_s", "s"),
    ("state.commit_s", "s"),
    ("state.rows", "count"),
)

# Derived from the counters above or from other samples.
LAYER_DERIVED = (
    ("session.start_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("jvm.retained_mb", "MB"),
    ("io.reader.source_reads", "ratio"),
    ("io.reader.read_mb", "MB"),
    ("io.writer.rows", "count"),
    ("io.writer.mb", "MB"),
    ("exec.busy", "ratio"),
    ("codegen.cold_compiles", "count"),
    ("codegen.cold_compile_s", "s"),
    ("trace.overhead", "ratio"),
)


def per_layer_names(workloads: dict[str, dict[str, Any]]) -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = list(LAYER_DERIVED) + list(LAYER_COUNTERS)
    for cfg in workloads.values():
        names += [(f"query.{q}.warm_s", "s") for q in cfg.get("queries", [])]
    return names


def warm_time(kind: str, samples: dict[str, list[float]]) -> dict[str, float | int]:
    return median_of(samples["pass"]) if kind == "motor" else per_query_sum(samples)


def per_pass(kind: str, layers: dict[str, list[float]], cold: bool = False) -> dict[str, float]:
    """One value per counter for a whole pass: the median over traced
    passes (motor) or the sum over queries of each query's median.
    ``cold`` selects the counters of the first pass of each process."""
    out: dict[str, float] = {}
    grouped: dict[str, dict[str, list[float]]] = {}
    for key, values in layers.items():
        if key.startswith("cold:") != cold:
            continue
        rest = key.removeprefix("cold:")
        if kind == "motor":
            out[rest] = statistics.median(values)
        else:
            query, _, counter = rest.partition(":")
            grouped.setdefault(counter, {})[query] = values
    for counter, by_query in grouped.items():
        out[counter] = sum(statistics.median(v) for v in by_query.values())
    return out


def summarize(
    kind: str,
    spec: dict[str, Any],
    results: list[dict[str, Any]],
    traced: bool,
    all_workloads: dict[str, dict[str, Any]],
) -> dict[str, Any]:
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    errors = [e for r in results for e in r["errors"]]
    warm = merge_samples(r["warm"] for r in results)
    correct = failed == 0
    rows: list[tuple[str, str, float, int]] = []
    metrics: dict[str, dict[str, Any]] = {}

    def put(name: str, unit: str, value: float, n: int) -> None:
        rows.append((name, unit, value, n))
        metrics[name] = {"value": value, "unit": unit}

    if not traced:
        e2e = {
            "setup_s": median_of([r["setup_s"] for r in results]),
            "cold_s": median_of([r["cold_s"] for r in results]),
            "warm_s": warm_time(kind, warm),
        }
        for name, unit in END_TO_END:
            put(name, unit, e2e[name]["median"], e2e[name]["n"])
        rows.append(("error_rate", "ratio", error_rate(attempted, failed), attempted))
    else:
        layers = merge_samples(r["layers"] for r in results)
        traced_warm = merge_samples(r["warm_traced"] for r in results)
        values = per_pass(kind, layers)
        cold = per_pass(kind, layers, cold=True)
        n_traced = sum(len(v) for v in traced_warm.values())
        pass_wall = warm_time(kind, traced_warm)["median"]
        cores = len(os.sched_getaffinity(0))
        input_rows = spec.get("input_rows")
        derived = {
            "session.start_s": statistics.median(r["setup_s"] for r in results),
            "jvm.peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in results),
            "jvm.retained_mb": statistics.median(r["retained_mb"] for r in results),
            "io.reader.source_reads": values.get("scan.rows", 0.0) / input_rows if input_rows else 0.0,
            "io.reader.read_mb": values.get("scan.mb", 0.0) if input_rows else 0.0,
            "io.writer.rows": values.get("output.rows", 0.0),
            "io.writer.mb": values.get("output.mb", 0.0),
            "exec.busy": values.get("exec.run_s", 0.0) / (pass_wall * cores),
            "codegen.cold_compiles": cold.get("codegen.compiles", 0.0),
            "codegen.cold_compile_s": cold.get("codegen.compile_s", 0.0),
            "trace.overhead": pass_wall / warm_time(kind, warm)["median"],
        }
        per_query = {}
        if kind != "motor":
            per_query = {f"query.{q}.warm_s": statistics.median(v) for q, v in warm.items()}
        for name, unit in per_layer_names(all_workloads):
            value = derived.get(name, values.get(name, per_query.get(name, 0.0)))
            put(name, unit, float(value), n_traced)
    return {
        "rows": rows,
        "errors": errors,
        "result": {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def span_self_times(results: list[dict[str, Any]]) -> list[tuple[str, str, float, int]]:
    """Median self time of every span name over all traced workers."""
    by_name: dict[str, list[float]] = {}
    for r in results:
        spans = r.get("spans", [])
        own = self_times(spans)
        for s in spans:
            by_name.setdefault(s["name"], []).append(own[s["id"]])
    return [
        (f"span {name} self", "s", statistics.median(v), len(v))
        for name, v in sorted(by_name.items())
    ]


def table(rows: list[tuple[str, str, float, int]]) -> str:
    lines = [f"{'metric':<40} {'unit':<6} {'median':>14} {'samples':>8}"]
    for name, unit, value, n in rows:
        lines.append(f"{name:<40} {unit:<6} {value:>14.6g} {n:>8}")
    return "\n".join(lines)
