"""Declarative-pipeline soak (round-10 verdict item #6).

All prior at-scale evidence is catalog queries; this runner exercises
the PRODUCT surface — a metadata-driven dataflow interpreted by
`compile_dataflow`/`run_dataflow` — at a real scale factor and records
wall, per-phase walls, sink row counts, and disk/scratch probes in one
JSON line.

    python tools/soak_dataflow.py <metadata.json> <dataflow> <sf_dir> [--steps]

The dataflow's first source is rebound to ``<sf_dir>/documents.parquet``
(the curation examples all read the documents table) and every sink /
stats output path is rebound into a scratch directory that is removed
afterwards.  Timings:

  compile_sec     metadata -> logical plan (no jobs)
  run_sec         the fused run_dataflow pass (stats + sinks) — THE
                  product-surface number; Spark fuses the whole step
                  chain into as few jobs as the sinks/stats require
  step walls      with --steps, each intermediate frame is additionally
                  forced once through a noop sink, in declaration
                  order, in the SAME session (cached upstream effects
                  included).  These are diagnostic per-step costs; they
                  deliberately over-count shared upstream work (each
                  force recomputes its lineage unless the interpreter
                  cached it) and are NOT additive to run_sec.

Auto-posture applies (session derives shuffle width from on-disk
bytes), matching how a user would run `python -m
ominimo_dynamic_data_pipeline_spark --metadata ...` at this scale.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ominimo_dynamic_data_pipeline_spark import get_spark  # noqa: E402
from ominimo_dynamic_data_pipeline_spark.session import (  # noqa: E402
    estimate_input_bytes,
)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    meta_path, flow_name, sf_dir = args
    with_steps = "--steps" in sys.argv

    meta = json.load(open(meta_path))
    scratch = Path(tempfile.mkdtemp(prefix="soak_dataflow_"))
    flow = next(d for d in meta["dataflows"] if d["name"] == flow_name)
    for src in flow.get("sources", []):
        src["path"] = f"{sf_dir}/documents.parquet"
    # keep each path's full relative form: distinct sinks (OK and KO
    # share a basename) must stay distinct directories, since the run
    # phase writes them concurrently
    for sink in flow.get("sinks", []) or []:
        sink["paths"] = [
            str(scratch / str(p).lstrip("/")) for p in sink.get("paths", [])
        ]
    for step in flow.get("transformations", []):
        p = step.get("params") or {}
        if "output_path" in p:
            p["output_path"] = str(scratch / str(p["output_path"]).lstrip("/"))

    spark = get_spark(
        app_name=f"soak_dataflow_{flow_name}",
        input_bytes=estimate_input_bytes(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ominimo_dynamic_data_pipeline_spark.pipeline import (
        compile_dataflow,
        run_dataflow,
    )

    rec: dict = {
        "metric": "dataflow_soak",
        "dataflow": flow_name,
        "sf_dir": sf_dir,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    free0 = shutil.disk_usage("/tmp").free

    t0 = time.perf_counter()
    compiled = compile_dataflow(spark, flow)
    rec["compile_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    result = run_dataflow(compiled, write=True, verbose=False)
    rec["run_sec"] = round(time.perf_counter() - t0, 3)

    rec["sink_rows"] = {}
    for sink in flow.get("sinks", []) or []:
        for p in sink["paths"]:
            try:
                key = str(Path(p).relative_to(scratch))
                rec["sink_rows"][key] = spark.read.parquet(p).count()
            except Exception:
                pass
    rec["stats_docs"] = sorted(result.stats.keys()) if getattr(
        result, "stats", None
    ) else []
    rec["disk_delta_gb"] = round(
        (free0 - shutil.disk_usage("/tmp").free) / 2**30, 2
    )

    if with_steps:
        steps = {}
        for step in flow.get("transformations", []):
            name = step.get("name")
            if name and name in compiled.ctx.frames:
                t0 = time.perf_counter()
                compiled.ctx.frames[name].write.mode("overwrite").format(
                    "noop"
                ).save()
                steps[f"{step['type']}:{name}"] = round(
                    time.perf_counter() - t0, 3
                )
        rec["step_force_sec"] = steps

    print(json.dumps(rec))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
