"""Heavy-tail soak runner: time the named catalog queries once each
against a scale directory, under AUTO-POSTURE (zero env knobs — the
session derives shuffle width and state-store provider from the
dataset's on-disk bytes; ``tools/make_sf.py sf100`` generates the data).

    python tools/soak_heavy.py <sf_dir> <query> [query ...]

Single-shot timings (no bench.py warm-up double-run): at soak scale the
~3 s one-time codegen cost is noise against 100+ s queries, and one run
of q108 at sf100 is ~20 min of compute.  Prints one JSON line per query
and a final summary line.

Each per-query line also carries a RESOURCE PROBE (round-10: built to
decompose the in-session streaming drag — q116 291.5 s as the session's
12th query vs 160.5 s isolated): free disk, streaming scratch bytes,
block-manager (shuffle/spill) bytes, and cumulative JVM GC millis, each
read before/after.  Each query's streaming scratch is removed before the
next one starts (the measured winner over keeping it, round 10).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ominimo_dynamic_data_pipeline_spark import get_spark  # noqa: E402
from ominimo_dynamic_data_pipeline_spark.queries import QUERIES  # noqa: E402
from ominimo_dynamic_data_pipeline_spark.session import (  # noqa: E402
    estimate_input_bytes,
)


def _du(path: Path) -> int:
    if not path.is_dir():
        return 0
    total = 0
    for root, _, files in os.walk(path, onerror=lambda e: None):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def probe(spark) -> dict:
    """Resource snapshot: free disk, streaming scratch, block-manager
    (shuffle/spill) footprint, cumulative JVM GC time.  All cheap
    (~ms) next to 100+ s soak queries."""
    import shutil
    import tempfile

    tmp = Path(tempfile.gettempdir())
    out = {
        "free_disk_gb": round(shutil.disk_usage(tmp).free / 2**30, 2),
        "scratch_gb": round(
            _du(tmp / "spark_graft_streams") / 2**30, 3
        ),
        "blockmgr_gb": round(
            sum(_du(p) for p in tmp.glob("blockmgr-*")) / 2**30, 3
        ),
    }
    # reused pyspark daemon/worker RSS: python-stateful ops (q116) are
    # worker-bound, and the reused pool can bloat across a session
    rss = 0
    nworkers = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ")
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/statm") as fh:
                rss += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            nworkers += 1
        except OSError:
            continue
    out["py_workers"] = nworkers
    out["py_worker_rss_gb"] = round(rss / 2**30, 2)
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management
            .ManagementFactory.getGarbageCollectorMXBeans()
        )
        out["gc_ms"] = sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )
        rt = (
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        )
        out["heap_used_gb"] = round(
            (rt.totalMemory() - rt.freeMemory()) / 2**30, 2
        )
    except Exception:
        pass
    return out


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    nbytes = estimate_input_bytes(sf_dir)
    spark = get_spark(app_name="soak", input_bytes=nbytes)
    spark.sparkContext.setLogLevel("ERROR")
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "input_bytes": nbytes,
                "auto_shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                "session_state_store_provider": spark.conf.get(
                    "spark.sql.streaming.stateStore.providerClass", "heap"
                ),
            }
        ),
        flush=True,
    )
    results: dict[str, float] = {}
    # try/finally: the JVM's exit hook does not reliably remove the
    # block-manager dir when Py4J tears down first — a soak session's
    # shuffle/spill files (tens of GB at sf100) must not outlive it,
    # INCLUDING on KeyboardInterrupt / unexpected exceptions mid-soak.
    # Cleanup between queries: each query's results are consumed (noop
    # write) before the next starts, and leaving prior sinks/checkpoints
    # on disk IS the measured late-session streaming drag (q116 at sf100:
    # 323.3 s with 8 GB of dead scratch vs 227.6 s cleaned).
    try:
        for name in names:
            pre = probe(spark)
            t0 = time.time()
            try:
                QUERIES[name](spark, sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                results[name] = round(time.time() - t0, 3)
                post = probe(spark)
                rec = {name: results[name], "pre": pre, "post": post}
                if "gc_ms" in pre and "gc_ms" in post:
                    rec["gc_delta_ms"] = post["gc_ms"] - pre["gc_ms"]
                try:
                    from ominimo_dynamic_data_pipeline_spark.streaming.ops import (
                        LAST_RUN_STATS,
                    )

                    if LAST_RUN_STATS:
                        rec["streaming"] = dict(LAST_RUN_STATS)
                        LAST_RUN_STATS.clear()
                except Exception:
                    pass
                print(json.dumps(rec), flush=True)
            except Exception as exc:  # keep soaking the rest
                results[name] = -1.0
                print(
                    json.dumps({name: "ERROR", "err": repr(exc)[:200]}),
                    flush=True,
                )
            try:
                from ominimo_dynamic_data_pipeline_spark.streaming.ops import (
                    cleanup_scratch,
                )

                n = cleanup_scratch(spark)
                # kernel persists outside a dataflow run live until the
                # session clears them
                spark.catalog.clearCache()
                print(
                    json.dumps({"cleanup_between": name, "roots": n}),
                    flush=True,
                )
            except Exception:
                pass
        print(json.dumps({"summary": results}), flush=True)
    finally:
        # scratch before stop: results are consumed (noop-written) by
        # now, and leftover per-batch sink parquet + checkpoints from
        # streaming queries starve the NEXT soak's shuffle space
        # (measured round 9: 23 GB of accumulated scratch -> disk-full
        # errors mid-sf100)
        try:
            from ominimo_dynamic_data_pipeline_spark.streaming.ops import (
                cleanup_scratch,
            )

            cleanup_scratch(spark)
        except Exception:
            pass
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
