"""Re-layout the sf100 soak tables as ~64-file parquet directories.

Round-10 item: the single-file testdata layout overstates scan cost ~3x
even at the best split setting (BENCH_sf100.json
round10_multifile_split_validation: a 64-file lineitem at 7.9/6.2/6.3 s
across 4/34/128 MB splits vs 317.9/46.9/19.1 s for the single 14 GB
file — the footer/rowgroup
decode is a per-file serial wall that real multi-file lakes never hit).
A 100 TB lake is ALWAYS multi-file, so the heavy-tail envelope should
be stamped on the representative layout; this script rewrites each
sf100 table into ``testdata_sf100_mf/<table>.parquet/`` as a 64-file
directory (8 files for the small text/vector tables, which are already
sub-GB) with the SAME rows — `spark.read.parquet` treats the directory
identically, and every soak query's hash must come out unchanged.

Rows are RANGE-partitioned on each table's natural cluster key and
sorted within partitions, preserving the clustering of the single-file
originals — a plain round-robin `repartition(n)` was measured to be the
WRONG re-layout: it scatters each key's rows across all files, which
(a) degrades parquet encoding ~20% (documents 656->796 MB, orders
1.8->2.2 GB) and (b) destroys map-side combine locality, so
key-clustered aggregations explode their shuffle volume (q97 192->378 s,
q146 97->239 s in the aborted first re-stamp).  Real lakes are written
clustered by ingest order / partition key, so range-split is also the
representative layout.  Results are row-set identical either way; a
fingerprint check runs per table after the write.

    python tools/make_sf100_multifile.py [table ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ominimo_dynamic_data_pipeline_spark import get_spark  # noqa: E402

SRC = Path(__file__).resolve().parent.parent / "testdata_sf100"
DST = Path(__file__).resolve().parent.parent / "testdata_sf100_mf"

# table -> (output file count, cluster key).  64 files for EVERY table:
# Spark can only split a parquet file at row-group boundaries, and these
# writes produce one row group per file, so the scan-stage task count ==
# file count — and for the text/embedding tables the heavy CPU
# (shingling, posexplode moments) runs IN the scan stage.  The first
# re-layout used 8 files for the small tables and q197 ran 2.2x slower
# than single-file PURELY from 8-way parallelism on 32 cores
# (116.9 vs 54.2 s isolated A/B); 64 files restores >= 2 waves.
# Keys mirror the generators' write order.
FILES = {
    "lineitem": (64, "l_orderkey"),
    "orders": (64, "o_orderkey"),
    "events": (64, "event_id"),
    "documents": (64, "doc_id"),
    "embeddings": (64, "vec_id"),
}


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="make_sf100_multifile")
    spark.sparkContext.setLogLevel("ERROR")
    DST.mkdir(exist_ok=True)
    from pyspark.sql import functions as F

    for table, (n, key) in FILES.items():
        if only and table not in only:
            continue
        src = SRC / f"{table}.parquet"
        if not src.exists():
            print(f"SKIP {table}: {src} missing")
            continue
        t0 = time.time()
        df = spark.read.parquet(str(src))
        (
            df.repartitionByRange(n, key)
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(str(DST / f"{table}.parquet"))
        )
        # row-set fingerprint: count + sum of xxhash64 over all columns
        # must match the single-file original exactly
        fp = lambda d: d.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*d.columns)).alias("h"),
        ).collect()[0]
        a, b = fp(df), fp(spark.read.parquet(str(DST / f"{table}.parquet")))
        ok = a["n"] == b["n"] and a["h"] == b["h"]
        print(
            f"{table}: {n} files in {time.time() - t0:.1f}s "
            f"fingerprint={'MATCH' if ok else 'FAIL'}"
        )
        if not ok:
            raise SystemExit(f"{table}: fingerprint mismatch after re-layout")
    spark.stop()


if __name__ == "__main__":
    main()
