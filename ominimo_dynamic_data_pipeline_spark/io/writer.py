"""Sinks.

Reference behavior being re-expressed:
  * Per sink ``{input, name, paths[], format, saveMode}`` the named frame is
    written to one or more paths; saveMode defaults to overwrite
    (``/root/reference/main.py:42-78``).
  * Before CSV writes, array columns are flattened to comma-joined strings
    because CSV cannot hold arrays (``/root/reference/main.py:62-70``).

Improvements for scale:
  * parquet sink with optional ``partitionBy`` (partition pruning on read)
    and optional ``repartition`` (control output file count — at 100 TB you
    never want one file per shuffle partition of a previous stage).
  * ``maxRecordsPerFile`` option passthrough for bounded file sizes.
  * ``bucketBy`` (+ optional in-bucket ``sortBy``) through ``saveAsTable``:
    hash-bucketed layout so REPEATED joins/aggregations on the bucket key
    read co-located and skip the shuffle entirely — the write-once,
    join-many 100 TB idiom (verified by the no-Exchange plan test).
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


def flatten_arrays_for_csv(df: DataFrame) -> DataFrame:
    """Stringify array columns (``concat_ws(",", col)``) so CSV can hold them."""
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, ArrayType):
            out = out.withColumn(field.name, F.concat_ws(",", F.col(field.name)))
    return out


def sink_paths(sink: Mapping[str, Any]) -> list[str]:
    return list(sink.get("paths") or [sink["path"]])


def write_sink(df: DataFrame, sink: Mapping[str, Any]) -> None:
    """Write ``df`` per sink spec to every path in ``paths``."""
    fmt = str(sink.get("format", "parquet")).strip().lower()
    mode = str(sink.get("saveMode", "overwrite")).strip().lower()
    paths = sink_paths(sink)
    options = dict(sink.get("options") or {})
    partition_by = sink.get("partitionBy") or []
    num_files = sink.get("repartition")

    zorder_by = sink.get("zorderBy") or []
    sort_by = sink.get("sortBy") or []
    bucket_by = sink.get("bucketBy")

    if mode == "overwrite_partitions" and sink.get("bucketBy"):
        # saveAsTable(overwrite) drops and recreates the WHOLE table; the
        # dynamic partitionOverwriteMode option only governs path/insertInto
        # writes — honoring this combination would silently truncate the
        # multi-partition bucketed table the mode exists to protect.
        raise ValueError(
            "saveMode=overwrite_partitions is not supported with bucketBy "
            "(saveAsTable overwrite replaces the whole table); write the "
            "bucketed table with append/overwrite or drop bucketBy"
        )
    if mode == "overwrite_partitions":
        # Dynamic partition overwrite: replace ONLY the partitions the
        # incoming frame touches, leaving the rest of the table intact —
        # the incremental-pipeline idiom (re-running one day's job must
        # not truncate the whole multi-PB table, which plain overwrite +
        # partitionBy silently does).  Spark honors the per-write
        # partitionOverwriteMode option since 3.0, so no session-level
        # conf mutation is needed.
        if not partition_by:
            raise ValueError(
                "saveMode=overwrite_partitions requires partitionBy "
                "(without partition columns there is nothing to scope "
                "the overwrite to)"
            )
        options.setdefault("partitionOverwriteMode", "dynamic")
        mode = "overwrite"

    out = df
    if fmt == "csv":
        out = flatten_arrays_for_csv(out)
        options.setdefault("header", "true")
    if fmt == "xml":
        # Mirror the reader's default element name so a write->read
        # roundtrip needs no extra options.
        options.setdefault("rowTag", "row")
    if zorder_by and sort_by:
        # sortWithinPartitions(sort_by) after the zkey sort would silently
        # destroy the z-order layout (footer min/max no longer tight in
        # the zorder columns) while the user believes they got both.
        raise ValueError(
            "zorderBy and sortBy are mutually exclusive: a later sortBy "
            "replaces the within-partition Morton ordering"
        )
    if zorder_by:
        # Z-order layout (the q104 operator as a SINK option): range-
        # partition + sort by the Morton interleave of the two columns so
        # every file's parquet min/max footers are tight in BOTH
        # dimensions — predicates on either column skip most files.
        # Values pre-scale to the key's bit budget by min/max (one
        # two-row-wide aggregate broadcast back onto the stream — the
        # q104 scaling, a pure projection).  NOT percent_rank: a global
        # rank window funnels the full-width frame through ONE partition
        # (Spark even warns "No Partition Defined for Window"), an
        # executor-OOM cliff at exactly the scale this layout targets.
        # Value-skew within the key range is absorbed downstream by
        # repartitionByRange, whose sampled range bounds give
        # equal-FREQUENCY output partitions regardless of the key
        # distribution.
        if len(zorder_by) != 2:
            raise ValueError(
                "zorderBy takes exactly two columns (Morton interleave); "
                f"got {zorder_by!r}"
            )
        from ominimo_dynamic_data_pipeline_spark.operators.scale import (
            epoch_ordinal,
            morton_key,
        )

        def ordinal(c: str):
            # numeric/temporal only: a silent cast-to-double of a string
            # column would NULL every Morton key and collapse the range
            # partitioner to one partition — epoch_ordinal fails fast
            try:
                return epoch_ordinal(
                    F.col(c), out.schema[c].dataType
                ).cast("double")
            except ValueError as exc:
                raise ValueError(f"zorderBy column {c!r}: {exc}") from None

        bits = int(sink.get("zorderBits", 16))
        scale = F.lit(float((1 << bits) - 1))
        mm = out.agg(
            *[
                agg(ordinal(c)).alias(f"_z{tag}{i}")
                for i, c in enumerate(zorder_by)
                for tag, agg in (("lo", F.min), ("hi", F.max))
            ]
        )
        dims = [
            F.round(
                (ordinal(c) - F.col(f"_zlo{i}"))
                / F.greatest(
                    F.col(f"_zhi{i}") - F.col(f"_zlo{i}"), F.lit(1e-12)
                )
                * scale
            ).cast("bigint")
            for i, c in enumerate(zorder_by)
        ]
        out = (
            out.join(F.broadcast(mm))
            .withColumn("_zkey", morton_key(dims[0], dims[1], bits=bits))
            .repartitionByRange(int(num_files or 32), F.col("_zkey"))
            .sortWithinPartitions("_zkey")
            .drop("_zkey", *mm.columns)
        )
        num_files = None
    if num_files:
        out = out.repartition(int(num_files))
    if sort_by and not bucket_by:
        # with bucketBy the sort belongs to the bucket writer (sortBy
        # below); a pre-shuffle sortWithinPartitions would be discarded
        out = out.sortWithinPartitions(*sort_by)

    if bucket_by:
        # Hash-bucketed table layout: Spark persists bucketing metadata
        # only through the catalog, so this path is saveAsTable (external
        # when a path is given).  Every later join/aggregation keyed on
        # the bucket columns reads co-located buckets and skips its
        # exchange — pay one shuffle at write time, never again.
        n_buckets = bucket_by.get("buckets")
        bucket_cols = bucket_by.get("cols") or []
        table = sink.get("table")
        if not isinstance(n_buckets, int) or n_buckets < 1:
            raise ValueError(
                f"bucketBy.buckets must be a positive int, got {n_buckets!r}"
            )
        if not bucket_cols:
            raise ValueError("bucketBy.cols must name at least one column")
        if not table:
            raise ValueError("bucketBy requires a 'table' name (saveAsTable)")
        if zorder_by:
            raise ValueError(
                "bucketBy and zorderBy are mutually exclusive layouts"
            )
        if len(paths) > 1:
            raise ValueError(
                "bucketBy writes one table; give at most one path "
                "(the table's external location)"
            )
        # align data with the bucket layout BEFORE the write: Spark's
        # bucketed writer does NOT shuffle — every task writes a file per
        # bucket it sees, so an unaligned frame produces up to
        # partitions x buckets small files.  repartition on the bucket
        # columns with n_buckets partitions uses the same hash family as
        # bucket assignment, so each task holds exactly one bucket's keys
        # and writes one file — this IS the pay-one-shuffle-at-write-time.
        out = out.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        writer = out.write.mode(mode).options(**options)
        if paths and paths[0]:
            writer = writer.option("path", paths[0])
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer = writer.bucketBy(n_buckets, *bucket_cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.format(fmt).saveAsTable(table)
        return

    for path in paths:
        writer = out.write.mode(mode).options(**options)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(fmt).save(path)


def sink_groups(sinks: Sequence[Mapping[str, Any]]) -> list[list[Mapping[str, Any]]]:
    """Partition ``sinks`` into independent write groups.  Sinks that
    share an output path or table land in one group, in declaration order
    (an overwrite followed by an append must stay in that order); distinct
    groups touch disjoint outputs and may be written concurrently."""
    groups: list[tuple[set[str], list[int]]] = []
    for i, sink in enumerate(sinks):
        keys = {f"path:{str(p).rstrip('/')}" for p in sink_paths(sink)}
        if sink.get("table"):
            keys.add(f"table:{sink['table']}")
        joined = [g for g in groups if g[0] & keys]
        for g in joined:
            groups.remove(g)
            keys |= g[0]
        groups.append((keys, sorted(j for g in joined for j in g[1]) + [i]))
    groups.sort(key=lambda g: g[1][0])
    return [[sinks[i] for i in members] for _, members in groups]
