"""The ``motor_etl`` workload's inputs and expected outputs.

The input is a seeded upscale of the ten behaviour classes in
``tests/data/motor_policies.json`` (one row per class: nested structs,
stringified ages, missing fields, rule violations).  The seed picks each
row's class, so the OK/KO split of every run is known exactly before the
dataflow runs.
"""

from __future__ import annotations

import copy
import json
import random
from pathlib import Path
from typing import Any

FIXTURE = Path("tests/data/motor_policies.json")
PIPELINE = Path("examples/motor_pipeline.json")
DATAFLOW = "motor-ingestion"

# Classes that pass every validation of the motor-ingestion dataflow.
OK_CLASSES = frozenset({"P-20001", "P-20002", "P-20003", "P-20008", "P-20010"})


def load_classes(root: Path) -> list[dict[str, Any]]:
    lines = (root / FIXTURE).read_text().splitlines()
    return [json.loads(line) for line in lines if line.strip()]


def class_mix(n_rows: int, n_classes: int, seed: int) -> list[int]:
    """Class index of every generated row."""
    rng = random.Random(seed)
    return [rng.randrange(n_classes) for _ in range(n_rows)]


def expected_split(mix: list[int], classes: list[dict[str, Any]]) -> tuple[int, int]:
    """(OK rows, KO rows) the dataflow must produce for ``mix``."""
    ok_idx = {i for i, row in enumerate(classes) if row["policy_number"] in OK_CLASSES}
    ok = sum(1 for c in mix if c in ok_idx)
    return ok, len(mix) - ok


def write_input(root: Path, dest: Path, n_rows: int, seed: int) -> tuple[int, int]:
    """Write ``n_rows`` JSON lines to ``dest``; return the expected
    (OK, KO) row counts."""
    classes = load_classes(root)
    mix = class_mix(n_rows, len(classes), seed)
    dest.parent.mkdir(parents=True, exist_ok=True)
    with dest.open("w") as fh:
        for i, c in enumerate(mix):
            # unique policy number per row, everything else as in the class
            row = dict(classes[c])
            row["policy_number"] = f"{row['policy_number']}-{i}"
            fh.write(json.dumps(row) + "\n")
    return expected_split(mix, classes)


def bound_dataflow(root: Path, input_path: Path, out_root: Path) -> dict[str, Any]:
    """The motor-ingestion dataflow with its source bound to ``input_path``
    and every sink and stats path rebound under ``out_root``.

    Rebinding keeps each path's full relative form
    (``output/events/motor_policy`` -> ``<out_root>/output/events/motor_policy``),
    so distinct sinks stay distinct directories."""
    meta = json.loads((root / PIPELINE).read_text())
    flow = copy.deepcopy(next(d for d in meta["dataflows"] if d["name"] == DATAFLOW))
    flow["sources"][0]["path"] = str(input_path)
    for sink in flow.get("sinks", []):
        sink["paths"] = [str(out_root / p) for p in sink["paths"]]
    for step in flow.get("transformations", []):
        params = step.get("params") or {}
        if "output_path" in params:
            params["output_path"] = str(out_root / params["output_path"])
    return flow


def sink_paths(flow: dict[str, Any]) -> dict[str, str]:
    """Sink input name -> its (single) output directory."""
    return {s["input"]: s["paths"][0] for s in flow.get("sinks", [])}
