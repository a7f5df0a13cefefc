"""Repeatable sf1 full-catalog oracle sweep (round-9 verdict item 6).

Round 9's one-off sf1 sweep caught eight real cross-engine divergence
classes (DECIMAL->DOUBLE ulp, decimal half-cases, F.round boundary
doubles, oracle DISTINCT semantics, candidate-shed mirroring, DuckDB
CTE inlining replay) before going 203/203 hash-green — this wraps it
as a one-command gate so any oracle edit can re-stamp it.

What it does beyond a plain ``oracle_check.py`` run:

  * points the comparison at the sf1 decade
    (``/root/repo/testdata_sf1`` by default — gitignored, regenerated
    per fresh container via ``tools/make_sf.py sf1``; this script errors
    loudly with that recipe if the directory is missing);
  * exports ``SPARK_GRAFT_ORACLE_SF_DIR`` into the child process
    BEFORE the package imports, so the data-derived literal oracles
    (IVF/SemDeDup centroid matrices, q44/q91/q94/q129) are re-rendered
    from the sf1 parquet instead of shipping a stale sf0.01 twin;
  * runs the check in a SUBPROCESS so the env var reaches module
    import time even when this script is itself imported;
  * writes a one-line JSON verdict (pass/fail counts, wall seconds,
    data dir) to stdout and ``SWEEP_SF1.json`` next to the other bench
    records.

Expected runtime: ~25-40 min on local[32] (round 9's clean re-sweep:
full catalog Spark + DuckDB at sf1; the q108 oracle alone is ~27 s of
DuckDB with its AS MATERIALIZED CTEs).  Disk: the q139/q97 shuffles
need a few GB free under $TMPDIR; the DuckDB oracles spill nothing
when healthy (a multi-GB .tmp is itself a finding — see BASELINE.md
round 9, item f).

Usage:
    python tools/sweep_sf1.py [sf_dir]        # default testdata_sf1
    make sweep-sf1
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else str(REPO / "testdata_sf1")
    if not (Path(sf_dir) / "lineitem.parquet").exists():
        print(
            f"ERROR: {sf_dir} has no parquet tables.  The scale dirs are "
            "gitignored and vanish with a fresh container — regenerate "
            "with `python tools/make_sf.py sf1` (~seconds of DuckDB time), "
            "then re-run.",
            file=sys.stderr,
        )
        return 2
    env = dict(os.environ)
    # Must be set before ominimo_dynamic_data_pipeline_spark imports:
    # the centroid-literal oracles render for this directory at import.
    env["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "oracle_check.py"), sf_dir],
        env=env,
        cwd=str(REPO),
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    wall = round(time.time() - t0, 1)
    ok = len(re.findall(r"^ok   ", proc.stdout, re.M))
    fails = re.findall(r"^FAIL .*$", proc.stdout, re.M)
    # surface every non-ok line (failures + the final PASS/FAIL verdict)
    for line in proc.stdout.splitlines():
        if not line.startswith("ok   ") and line.strip():
            print(line)
    record = {
        "metric": "sf1_oracle_sweep",
        "green": ok,
        "failed": len(fails),
        "failures": [f.split(":")[0].replace("FAIL ", "") for f in fails],
        "wall_sec": wall,
        "sf_dir": sf_dir,
        "exit_code": proc.returncode,
    }
    line = json.dumps(record)
    print(line)
    (REPO / "SWEEP_SF1.json").write_text(line + "\n")
    return proc.returncode


if __name__ == "__main__":
    raise SystemExit(main())
