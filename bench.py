"""Benchmark harness (driver contract).

Runs the query catalog at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the noop sink (full computation of every output
column, no driver-side materialization cost).  Each query runs twice
back-to-back and the SECOND run is timed: whole-stage-codegen compilation +
JIT is a one-time ~2-4s cost per unique plan shape that would otherwise
dominate sub-second queries (measured: q17 first run 4.5s, steady state
0.22s).  Warm-up must be per-query, not a separate full pass: the JVM's
generated-class cache holds ~100 entries, so with 79 queries x several
codegen stages a global warm-up pass is evicted before the timed pass
reaches it.  The timed number is steady-state throughput, the quantity
that scales to the 100 TB posture.

Record re-stamp protocol (round-12, after the round-11 gate cried wolf
eight times across two hosts with zero real regressions):

- ``SPARK_GRAFT_UPDATE_RECORDS=1`` at sf0.1 re-stamps
  ``BENCH_RECORDS.json``.  In that mode each query is timed for
  ``SPARK_GRAFT_TIMED_PASSES`` (default 3) warm passes and the MEDIAN is
  stamped — a single pass leaves +/-2x run-to-run noise baked into
  sub-second records (judge-measured: q69 bounced 0.35-0.67s against a
  0.172s single-pass record).  Re-stamp on the commit that changes a
  query's plan, never to paper over an unexplained slowdown.
- A subset run (``SPARK_GRAFT_QUERIES=...``) MERGES its median timings
  into the existing records instead of overwriting the file — a subset
  overwrite would silently destroy the 204-query baseline the
  regression gate compares against.
- The regression diff (full catalog runs only) flags a query when its
  host-median-normalized ratio exceeds 1.5x AND the absolute delta
  clears a noise floor (0.5s for records under 1s, where +/-2x is pure
  scheduler noise; 0.15s for records >= 1s) AND the slowdown survives
  one isolated re-run at the end of the session (ordering/GC effects
  don't).  ``SPARK_GRAFT_INJECT_SLOWDOWN=qname:3.0`` multiplies that
  query's measured walls — the test hook proving the gate still trips
  on a real 3x regression.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ominimo_dynamic_data_pipeline_spark import get_spark
from ominimo_dynamic_data_pipeline_spark.queries import QUERIES


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def parse_inject(spec: str) -> dict[str, float]:
    """Parse SPARK_GRAFT_INJECT_SLOWDOWN ("q01:3.0,q02:2") into a
    per-query wall-time multiplier map (the regression-gate test hook)."""
    out: dict[str, float] = {}
    for part in spec.split(","):
        if ":" in part:
            name, factor = part.rsplit(":", 1)
            out[name.strip()] = float(factor)
    return out


def diff_against_records(timings, prior, rerun=None):
    """Regression diff vs the committed per-query records.

    Pure logic, unit-tested in tests/test_bench.py.  Host drift is
    cancelled by normalizing every ratio by the session median ratio.  A
    query is a regression CANDIDATE when its normalized ratio exceeds
    1.5x AND the absolute delta clears the noise floor — 0.5s for
    records under 1s (sub-second walls vary +/-2x run-to-run on a busy
    32-core box; round-11 produced eight sub-second false flags across
    two hosts and zero real ones), 0.15s for records >= 1s where 1.5x is
    meaningful.  A candidate is only FLAGGED if ``rerun`` (an isolated
    end-of-session re-measurement; None in unit tests) still trips on
    the better of the two walls — in-session ordering and GC effects
    don't reproduce in isolation, real plan regressions do.

    Returns {"median_host_ratio": ..., "flagged": {...}} or None when no
    comparable records exist.
    """
    ratios = {
        n: timings[n] / prior[n]
        for n in timings
        if n in prior and prior[n] >= 0.05 and timings[n] > 0
    }
    if not ratios:
        return None
    med = sorted(ratios.values())[len(ratios) // 2]

    def trips(sec: float, rec: float) -> bool:
        floor = 0.5 if rec < 1.0 else 0.15
        return sec / rec / med > 1.5 and sec - rec * med > floor

    flagged = {}
    for n in sorted(ratios):
        if not trips(timings[n], prior[n]):
            continue
        info = {
            "sec": timings[n],
            "record_sec": prior[n],
            "ratio_vs_median": round(ratios[n] / med, 2),
        }
        if rerun is not None:
            try:
                info["rerun_sec"] = round(rerun(n), 3)
            except Exception:  # noqa: BLE001 — a failing rerun never clears
                info["rerun_sec"] = timings[n]
            if not trips(min(timings[n], info["rerun_sec"]), prior[n]):
                continue  # didn't reproduce in isolation: ordering noise
        flagged[n] = info
    return {"median_host_ratio": round(med, 3), "flagged": flagged}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # auto-posture: shuffle width + state-store provider derive from the
    # dataset's on-disk size (session.auto_shuffle_partitions /
    # auto_state_store — the measured sf10/sf30 walls); env knobs still win
    from ominimo_dynamic_data_pipeline_spark.session import (
        estimate_input_bytes,
    )

    spark = get_spark(
        app_name="bench", input_bytes=estimate_input_bytes(sf_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")

    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",")
        if q.strip()
    }
    unknown = only - set(QUERIES)
    if unknown:
        raise SystemExit(
            f"SPARK_GRAFT_QUERIES names unknown queries: {sorted(unknown)}"
        )
    selected = {
        name: fn
        for name, fn in QUERIES.items()
        if not only or name in only
    }

    from ominimo_dynamic_data_pipeline_spark.streaming import ops as stream_ops

    # Session warm-up: touch every table once (footer/schema caches, parquet
    # reader + codegen scaffolding, buffer pools).  Whichever queries run
    # FIRST otherwise absorb these one-time costs — the round-5 window
    # rotation moved different queries to the front and their numbers
    # jumped 2-3x purely from ordering (q95 0.21 -> 0.74 s).  Per-query
    # warm-up below still handles per-plan codegen; this handles the
    # session-global share so timings are order-independent.
    for t in Path(sf_dir).glob("*.parquet"):
        try:
            spark.read.parquet(str(t)).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    update_records = os.environ.get("SPARK_GRAFT_UPDATE_RECORDS") == "1"
    # re-stamp mode defaults to median-of-3 warm passes (single-pass
    # records bake +/-2x sub-second noise into the baseline); the normal
    # comparison run keeps one timed pass and relies on the noise floor +
    # isolated-rerun confirmation instead
    passes = int(
        os.environ.get(
            "SPARK_GRAFT_TIMED_PASSES", "3" if update_records else "1"
        )
    )
    inject = parse_inject(os.environ.get("SPARK_GRAFT_INJECT_SLOWDOWN", ""))

    def timed_pass(name, fn):
        """One warm timed pass; returns (sec, streaming_agg_or_None)."""
        stream_ops.LAST_RUN_STATS.clear()
        start = time.perf_counter()
        force(fn(spark, sf_dir))
        sec = (time.perf_counter() - start) * inject.get(name, 1.0)
        agg = None
        if stream_ops.LAST_RUN_STATS:
            # micro-batch breakdown for streaming queries: wall time =
            # batches x fixed overhead + data work; sf-growth gates
            # should read add_batch_sec (the data term), not wall time
            agg = {
                "batches": 0,
                "input_rows": 0,
                "trigger_exec_sec": 0.0,
                "add_batch_sec": 0.0,
                "fixed_overhead_sec": 0.0,
            }
            for st in stream_ops.LAST_RUN_STATS.values():
                for k in agg:
                    agg[k] = round(agg[k] + st.get(k, 0), 3)
            # a store count is a width, not a cost: keep the widest
            agg["state_store_instances"] = max(
                st.get("state_store_instances", 0)
                for st in stream_ops.LAST_RUN_STATS.values()
            )
            # results are consumed — drop this query's sink/checkpoint
            # scratch NOW, outside the timed window.  Round-10 measured
            # the late-session streaming drag to be exactly this
            # accumulation: 8-11 GB of dead scratch writeback throttled
            # q116's stateful stage 1.4x at sf100 (BENCH_sf100.json);
            # cleaning between queries removed the whole gap.
            stream_ops.cleanup_scratch(spark)
        return sec, agg

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    streaming: dict[str, dict] = {}
    for name, fn in selected.items():
        # one failing query must not zero out the whole record — note it
        # loudly in the output instead (stderr + an `errors` field)
        try:
            force(fn(spark, sf_dir))  # warm-up: codegen/JIT compile this plan
            samples = []
            for _ in range(passes):
                sec, agg = timed_pass(name, fn)
                samples.append(sec)
                if agg is not None:
                    streaming[name] = agg
            timings[name] = round(statistics.median(samples), 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if streaming:
        record["streaming"] = streaming
    if errors:
        record["errors"] = errors

    # Host-calibration probe (round-10 verdict #5): a fixed synthetic
    # cpu/shuffle/scan/fsync workload stamped into every record, so
    # cross-round walls can be normalized by the probe ratio instead of
    # being incomparable under 1.3-2x host drift (see BASELINE.md).
    try:
        from tools.host_probe import run_probe

        record["host_probe"] = run_probe(spark)
    except Exception as exc:  # noqa: BLE001
        print(f"BENCH host_probe failed: {exc}", file=sys.stderr)

    # Per-query regression diff (round-10 verdict #2): compare against
    # the committed per-query records, normalized by the session median
    # ratio (cancels host drift), and flag anything >1.5x — the gate
    # that would have caught the round-10 duck_round_expr duplication
    # (q146 3.3x, q92 3.3x vs a 1.09x session median).  Refresh records
    # intentionally with SPARK_GRAFT_UPDATE_RECORDS=1.
    records_path = Path(__file__).resolve().parent / "BENCH_RECORDS.json"
    if update_records and sf == 0.1:
        # a SUBSET re-stamp merges into the existing baseline — a plain
        # overwrite here would silently destroy the other ~200 records
        # the regression gate compares against (round-11 ADVICE)
        merged = dict(timings)
        if only and records_path.exists():
            merged = {**json.loads(records_path.read_text()), **timings}
        records_path.write_text(
            json.dumps(merged, indent=1, sort_keys=True) + "\n"
        )
        print(
            f"BENCH records re-stamped ({'merged subset' if only else 'full'},"
            f" median of {passes} passes): {records_path}",
            file=sys.stderr,
        )
    elif records_path.exists() and sf == 0.1 and not only:

        def isolated_rerun(name: str) -> float:
            # confirmation outside the batch ordering: re-warm (the JVM
            # generated-class cache holds ~100 entries, this plan has
            # been evicted by now) then take one clean wall
            fn = QUERIES[name]
            force(fn(spark, sf_dir))
            sec, _ = timed_pass(name, fn)
            return sec

        prior = json.loads(records_path.read_text())
        diff = diff_against_records(timings, prior, rerun=isolated_rerun)
        if diff is not None:
            record["bench_diff"] = diff
            for n, info in sorted(diff["flagged"].items()):
                print(
                    f"BENCH REGRESSION {n}: {info['sec']}s (isolated rerun "
                    f"{info['rerun_sec']}s) vs record {info['record_sec']}s "
                    f"({info['ratio_vs_median']}x over the "
                    f"{diff['median_host_ratio']}x session median)",
                    file=sys.stderr,
                )
    print(json.dumps(record))
    # bench results are materialized; reclaim the streaming sink/
    # checkpoint scratch this session created (it otherwise accumulates
    # across runs — measured 23 GB in round 9 — and starves shuffle disk)
    try:
        from ominimo_dynamic_data_pipeline_spark.streaming.ops import (
            cleanup_scratch,
        )

        cleanup_scratch(spark)
    except Exception:
        pass
    spark.stop()
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
