"""Benchmark entry point.

    python3 perfbench/run.py --workload motor_etl --seed 1 --seconds 20 --trace 0

Runs one named workload from the root of a checkout.  Each run starts
several fresh processes one after another (``worker.py``); each process
measures session start, the cold first pass and a warm window, so every
reported value is a median over samples spread across processes and time.
The workload is a closed loop with one client on ``local[nproc]``.

Prints a table (metric, unit, median, samples) and, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
same passes run alternately with and without tracing and the metrics are
the per-layer counters, plus ``trace.overhead``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import catalog_data, motor, report  # noqa: E402

WORK = ROOT / ".perfbench_work"

# Every run must end within this many seconds.
RUN_LIMIT_S = 170

CATALOG_SF = 0.01

WORKLOADS: dict[str, dict[str, Any]] = {
    "motor_etl": {
        "kind": "motor",
        "rows": 25_000,
        "processes": 2,
        "warmup": 1,
        "min_samples": 3,
    },
    "catalog": {
        "kind": "catalog",
        "queries": [
            "q47_price_percentiles",
            "q203_png_decode_features",
            "q141_streaming_dedup_e2e",
        ],
        "processes": 2,
        "repeats": 2,
    },
}


def check_checkout() -> None:
    """Fail fast when the program under test is not beside the benchmark."""
    needed = [
        ROOT / "ominimo_dynamic_data_pipeline_spark" / "__init__.py",
        ROOT / motor.PIPELINE,
        ROOT / motor.FIXTURE,
        ROOT / "tools" / "oracle_check.py",
    ]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        raise SystemExit(f"perfbench: program files missing from {ROOT}: {missing}")


def prepare(cfg: dict[str, Any], seed: int, work: Path) -> dict[str, Any]:
    """Generate the run's inputs; return the part of the worker spec that
    describes them."""
    if cfg["kind"] == "motor":
        src = work / "input" / "motor_policies.json"
        ok, ko = motor.write_input(ROOT, src, cfg["rows"], seed)
        flow = motor.bound_dataflow(ROOT, src, work / "sinks")
        flow_path = work / "flow.json"
        flow_path.write_text(json.dumps(flow))
        return {
            "inputs": [str(src)],
            "flow": str(flow_path),
            "expected_ok": ok,
            "expected_ko": ko,
            "input_rows": cfg["rows"],
            "warmup": cfg["warmup"],
            "min_samples": cfg["min_samples"],
        }
    sf_dir = catalog_data.write_tables(work / "tables", CATALOG_SF, seed)
    return {
        "inputs": [str(sf_dir)],
        "sf_dir": str(sf_dir),
        "queries": cfg["queries"],
        "repeats": cfg["repeats"],
    }


def worker_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    # Python workers spawned by Spark import the package (pandas UDFs do
    # lazy imports), so the checkout root must be importable from anywhere.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # keep scratch (streaming checkpoints, shuffle files, native libraries
    # the JVM unpacks) inside the checkout
    for key, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        (work / sub).mkdir(parents=True, exist_ok=True)
        env[key] = str(work / sub)
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData")
        if p
    )
    return env


def stop_group(proc: subprocess.Popen, timeout: float = 10.0) -> None:
    """SIGKILL the worker's process group (the worker and its JVM), reap
    the worker, and wait until no process of the group is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(spec: dict[str, Any], work: Path, index: int, deadline: float) -> dict[str, Any]:
    spec_path = work / f"spec{index}.json"
    out_path = work / f"result{index}.json"
    spec_path.write_text(json.dumps(spec))
    with open(work / f"worker{index}.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"), str(spec_path), str(out_path)],
            cwd=work,
            env=worker_env(work),
            stdout=subprocess.DEVNULL,
            stderr=log,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not out_path.is_file():
        log = (work / f"worker{index}.log").read_text()[-3000:]
        raise SystemExit(f"perfbench: worker {index} failed (exit {code}):\n{log}")
    result = json.loads(out_path.read_text())
    phases = " ".join(f"{k}={v:.1f}" for k, v in result["phases"].items())
    print(f"worker {index}: {phases} setup={result['setup_s']:.1f} cold={result['cold_s']:.1f}"
          f" {result.get('cold_by_query', '')}", file=sys.stderr)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its worker (see run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    check_checkout()

    cfg = WORKLOADS[args.workload]
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        spec = {
            "root": str(ROOT),
            "kind": cfg["kind"],
            "trace": args.trace,
            "window_s": args.seconds / cfg["processes"],
            **prepare(cfg, args.seed, work),
        }
        results = []
        for i in range(cfg["processes"]):
            spec.update(run_id=f"{args.workload}-{args.seed}-{i}", check=i == cfg["processes"] - 1)
            results.append(run_worker(spec, work, i, deadline))
            if cfg["kind"] == "motor":
                shutil.rmtree(work / "sinks", ignore_errors=True)
    finally:
        for sub in ("input", "sinks", "tables", "tmp", "spark-local"):
            shutil.rmtree(work / sub, ignore_errors=True)

    summary = report.summarize(cfg["kind"], spec, results, bool(args.trace), WORKLOADS)
    if args.trace:
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        path = traces / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps([s for r in results for s in r.get("spans", [])]))
        print(f"spans written to {path.relative_to(ROOT)}")
        print(report.table(report.span_self_times(results)))
    for err in summary["errors"]:
        print(f"error: {err}", file=sys.stderr)
    print(report.table(summary["rows"]))
    print(json.dumps(summary["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
