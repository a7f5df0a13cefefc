"""Structured Streaming parity surface (SURVEY.md §2.4 "Streaming").

The reference is purely batch; this module gives the engine streaming
versions of its aggregation/validation shapes over the ``events`` table:

  * tumbling / sliding windowed aggregates with watermarks
  * session windows (gap-based)
  * streaming dedup within a watermark
  * foreachBatch OK/KO validated split to dual sinks (the streaming twin
    of the batch validate_fields operator)

Every transformation here works IDENTICALLY on a static DataFrame (Spark's
unified batch/stream semantics) — the tests exploit that for
batch-equivalence checks: stream(availableNow) == batch on the same data.

Scale posture: watermarks bound state; windowed aggs shuffle on
(window, key) with partial aggregation; dedup state is pruned by the
watermark.  State stores live per-partition — at 1000 executors state is
sharded horizontally, the watermark keeps it O(active window) not O(data).
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.session import estimate_input_bytes

# Synthetic-fixture schema (epoch-nanos ts as bigint) used by tests that
# write their own event files; the real testdata schema is read from the
# parquet footer in read_events_stream.
EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def _path_is_dir(spark: SparkSession, path: str) -> bool:
    """Directory test through the Hadoop FileSystem API, so remote URIs
    (s3a://, hdfs://) resolve against the right filesystem.  The local
    ``Path.is_dir()`` answer is False for ANY remote URI, which would
    silently route a remote directory table into the pathGlobFilter
    branch — matching zero leaf part files and streaming nothing
    (round-11 ADVICE).  Falls back to the local check only when the JVM
    gateway is unavailable (plain-Python unit tests)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.getFileStatus(hpath).isDirectory())
    except Exception:  # noqa: BLE001
        return Path(path).is_dir()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    The stream schema is taken from the parquet footer (one driver-side
    metadata read) so the reader tracks the generator: ``ts`` may arrive
    as a native TIMESTAMP or as epoch-nanos bigint (nanosAsLong), and the
    conversion mirrors the batch loader exactly.
    """
    # The file stream source requires a directory.  Single-file layout
    # (the sf* testdata): list the scale dir with pathGlobFilter picking
    # the one events file.  Directory layout (a real lake / the
    # multi-file sf100 re-layout): load the table directory itself —
    # pathGlobFilter matches LEAF file names, so filtering the parent dir
    # by "events.parquet" would match zero part files and read nothing.
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if _path_is_dir(spark, path):
        raw = reader.load(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (not NTZ); session tz is UTC so the
        # cast is value-preserving and matches the batch loader.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-(window, event_type) counts + value sums; late rows beyond the
    watermark are dropped.  Works on static frames too (watermark is a
    no-op there) — used by the batch-equivalence tests."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based session windows per user: a session closes after ``gap``
    of inactivity.  State per (user, open session); watermark closes and
    evicts sessions."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drops repeats of the key within the
    watermark horizon (bounded state).  Static frames fall back to
    dropDuplicates (global)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def validated_split_writer(
    rules: Sequence[Mapping[str, Any]],
    ok_path: str,
    ko_path: str,
    fmt: str = "parquet",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: per micro-batch, apply the batch validation
    operator and append OK/KO streams to their sinks — the streaming twin
    of the reference's dual-sink contract (OK rows clean, KO rows carry
    validation_errors).  Exactly-once per sink comes from the streaming
    checkpoint + idempotent appends."""
    from ominimo_dynamic_data_pipeline_spark.operators.validate import (
        apply_validations,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        result = apply_validations(batch_df, rules, cache_tagged=True)
        try:
            result.ok.write.mode("append").format(fmt).save(ok_path)
            ko = result.ko.withColumn(
                "validation_errors", F.concat_ws(",", "validation_errors")
            ) if fmt == "csv" else result.ko
            ko.write.mode("append").format(fmt).save(ko_path)
        finally:
            result.tagged.unpersist()

    return write_batch


def keyed_upsert_writer(
    path: str,
    key_cols: Sequence[str],
    order_col: str,
    num_buckets: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a latest-row-per-key parquet table
    (streaming MERGE/upsert without a table format).

    The table is partitioned by ``_bucket = pmod(hash(key), num_buckets)``
    so each micro-batch rewrites ONLY the partitions its keys hash into
    (``partitionOverwriteMode=dynamic``), never the whole table: per batch
    the cost is O(touched buckets), and at scale ``num_buckets`` is sized
    so a bucket is a few hundred MB.  Within a batch the winner per key is
    the highest ``order_col`` row; across batches the stored row is
    replaced whenever the key reappears — the classic CDC/compaction
    shape.  Exactly-once comes from the streaming checkpoint plus the
    idempotence of "overwrite partition with recomputed contents".
    """
    from pyspark.sql.window import Window

    keys = list(key_cols)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn(
                "_bucket",
                F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(num_buckets)),
            )
        )
        try:
            existing = spark.read.parquet(path)
        except Exception:
            existing = None
        if existing is not None:
            touched = [
                r["_bucket"]
                for r in latest.select("_bucket").distinct().collect()
            ]  # bounded by num_buckets — a driver-safe collect
            keep = existing.filter(F.col("_bucket").isin(touched)).join(
                latest.select(*keys).distinct(), on=keys, how="left_anti"
            )
            merged = keep.unionByName(latest)
        else:
            merged = latest
        # Materialize BEFORE overwriting: the merged plan reads the same
        # partitions the dynamic overwrite is about to replace.
        merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(path)
        )

    return write_batch


def read_upserted(spark: SparkSession, path: str) -> DataFrame:
    """Read the current state of a ``keyed_upsert_writer`` table (drops the
    internal bucket column)."""
    return spark.read.parquet(path).drop("_bucket")


def enriched_segment_counts(
    events: DataFrame,
    customer_dim: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-static enrichment join + windowed aggregate: each micro-batch
    joins against the (broadcast-size) static dimension — no state is kept
    for the static side, and the dimension is re-read per batch, so slowly
    changing dims pick up updates between batches.  Works on static frames
    too (batch-equivalence tests).

    At scale: the static side should be broadcast (small dim) or a bucketed
    table co-located with the stream's shuffle; state is bounded by the
    windowed aggregate's watermark, not by the join.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    dim = F.broadcast(
        customer_dim.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    return (
        src.join(dim, "user_id")
        .groupBy(F.window("ts", window).alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "value_sum",
        )
    )


def interval_click_attribution(
    events: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to every click by
    the same user within ``lookback`` BEFORE it (strictly earlier).

    The canonical bounded-state stream-stream join: both sides carry a
    watermark and the join condition bounds c_ts to
    [p_ts - lookback, p_ts), so the state store retains only ``lookback``
    + watermark worth of clicks per side — O(window), not O(stream).
    Works identically on a static frame (condition becomes a plain range
    predicate on the user_id equi-join), which the batch-equivalence test
    exploits.  Append output mode; the q15 batch as-of picks the single
    LATEST click instead — this operator returns ALL attributable clicks,
    the shape used for multi-touch attribution.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("c_ts", watermark)
        purchases = purchases.withWatermark("p_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond).select(
        "purchase_id", "p_ts", "click_id", "c_ts", "user_id"
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from the
    footer, same single-file-vs-directory handling as
    read_events_stream) — the continuous-ingest source for streaming
    dedup."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if _path_is_dir(spark, path):
        return reader.load(path)
    return reader.option("pathGlobFilter", "documents.parquet").load(sf_dir)


def sized_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events.parquet",
    target_bytes: int = 256 << 10,
    floor: int = 1,
) -> int:
    """State-store instance count sized to the INPUT, not the session's
    batch-shuffle width: one partition per ~256 KB of source parquet,
    clamped to [floor, spark.sql.shuffle.partitions].  Streaming plans
    never re-plan (no AQE), so this must be chosen before first start —
    measured best-of-both: the miniature sf0.1 stream drops 4 state
    stores x 32 partitions of per-batch overhead (q115 5.6 -> 2.1 s),
    while the sf1 session-window state keeps its parallelism (q102
    6.7 -> ~3 s at 22+ partitions).  No fixed floor above one store:
    a heap-store commit measured ~45 ms alone and ~90 ms with 8 at once
    (q141 at sf0.01, 4 vCPUs), so the sf0.01 events source (~220 KB)
    gets 1 store, sf0.1 (~2 MB) 7, and sf1 and above the 256 KB rule up
    to the session width.  At cluster scale the session cap is the
    lever: target state volume per partition, constant across restarts
    of a checkpoint."""
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # e.g. "auto" under some AQE configs — fall back to the floor so
        # a miniature stream never explodes its state-store count.
        cap = floor
    size = dataset_bytes(sf_dir, table)
    # cap wins over floor: a session constrained below the floor must
    # never be exceeded
    return min(cap, max(floor, int(size // target_bytes)))


def dataset_bytes(sf_dir: str, table: str = "events.parquet") -> int:
    """On-disk bytes of one source table (file or directory-style parquet
    dataset; session.estimate_input_bytes sums the data files, because
    getsize on a directory dirent returns ~4 KB and would silently
    collapse sizing).  Shared by state-partition sizing and the auto
    state-store choice."""
    import os

    return estimate_input_bytes(os.path.join(sf_dir, table))


# Per-run micro-batch accounting, keyed by query_name: bench.py reads this
# to separate streaming FIXED overhead (micro-batch planning, offset/WAL
# commits) from state/data scaling — a stream's wall time is
# batches x per-batch fixed cost + data work, and only the data term
# should grow with sf (round-4 verdict item 4).
LAST_RUN_STATS: dict[str, dict] = {}


def cleanup_scratch(
    spark: SparkSession | None = None, all_apps: bool = False
) -> int:
    """Delete this application's streaming scratch root (checkpoints +
    per-batch sink parquet under ``$TMPDIR/spark_graft_streams/<appId>``)
    and return the number of roots removed.

    ``run_to_completion`` cannot clean up after itself — the DataFrame
    it returns lazily READS the sink directory — so scratch outlives
    each stream by design and a long harness session accumulates it
    (round 9: 23 GB of probe scratch starved the sf100 soak's shuffle
    space mid-query).  Call this once results are consumed: ``bench.py``
    does once per session, ``tools/soak_heavy.py`` after every query
    (q116 at sf100 323.3 s with prior streams' scratch on disk vs 227.6 s
    cleaned; BENCH_sf100.json round10_streaming_drag_rootcause).

    The cross-application sweep is OPT-IN: only ``all_apps=True`` ever
    touches other apps' scratch (a concurrent session's live
    checkpoints/sinks live there too).  When the application id cannot
    be resolved — Spark Connect, no ``spark`` handle, stopped context —
    and ``all_apps`` is False, this is a no-op returning 0 rather than
    a silent sweep of everything."""
    import shutil
    import tempfile

    root = Path(tempfile.gettempdir()) / "spark_graft_streams"
    targets = []
    if spark is not None:
        try:
            targets = [root / spark.sparkContext.applicationId]
        except Exception:  # Spark Connect: no sparkContext handle
            targets = []
    if not targets:
        if not all_apps:
            return 0
        targets = list(root.glob("*")) if root.is_dir() else []
    n = 0
    for t in targets:
        if t.is_dir():
            shutil.rmtree(t, ignore_errors=True)
            n += 1
    return n


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

HEAP_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)

NO_DATA_BATCHES_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

# Analyzed-plan node classes of a dedup-only stream: the dedup operators
# themselves plus nodes that keep no state.  Any other streaming node
# (Aggregate, Join, FlatMapGroups*WithState, TransformWithState*, limits,
# or a class this list does not know) keeps the trailing no-data batch.
_DEDUP_NODES = frozenset({"Deduplicate", "DeduplicateWithinWatermark"})
_STATELESS_NODES = frozenset({
    "EventTimeWatermark", "Filter", "Project", "StreamingRelation",
    "StreamingRelationV2", "SubqueryAlias", "Union",
})


def _streaming_node_classes(stream_df: DataFrame) -> set[str]:
    """Simple class names of the STREAMING nodes of the analyzed plan.
    Static subtrees (the dimension side of a stream-static join) are not
    entered: they hold no state.  Private Py4J bridge, classic PySpark
    only (validated on Spark 4.1); raises under Spark Connect."""
    names: set[str] = set()
    todo = [stream_df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if not node.isStreaming():
            continue
        names.add(node.getClass().getSimpleName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _dedup_only(nodes: set[str]) -> bool:
    """True when the dedups are the plan's only stateful nodes: its
    trailing no-data batch emits no rows and merely evicts dedup state
    below the watermark."""
    return bool(nodes & _DEDUP_NODES) and nodes <= (
        _DEDUP_NODES | _STATELESS_NODES
    )


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
    resume: bool = False,
    scratch_dir: str | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Drive a stream with availableNow into a parquet scratch sink and
    return the result as a DataFrame (test/verification harness).

    The sink is foreachBatch -> executor-written parquet, NOT the memory
    sink: memory-sink rows serialize through the driver, so a row-level
    stream (dedup, transcripts) hits spark.driver.maxResultSize the
    moment the data outgrows the driver — the sf30 soak measured q141
    dying at ~1 GiB of task results.  foreachBatch keeps the 100 TB
    shape (results land in storage, the driver only coordinates) while
    preserving memory-sink semantics per mode: append appends each
    batch, complete overwrites with the latest full result, update
    appends the changed rows (consumers keep the last emit per key,
    same as they did with the memory sink).

    ``output_mode`` defaults per plan shape: ``complete`` for streaming
    aggregations (append would hold every window open until the watermark
    passes it, and with availableNow the final watermark never closes the
    last windows — so complete is the mode that surfaces all results; note
    it also retains all window state, so the watermark's late-data
    DROPPING is only observable in true append/update runs), ``append``
    for non-aggregation streams (dedup/filter/projection), where complete
    raises AnalysisException.

    ``shuffle_partitions`` right-sizes the STATE STORE instance count for
    this stream (set + restored around the run; a stream's state
    partitioning is fixed at first start by spark.sql.shuffle.partitions,
    NOT adapted by AQE — streaming plans don't re-plan).  Per-batch cost
    scales with the instance count regardless of data volume, so a
    miniature stream under a wide batch default pays 4 state stores x 32
    partitions of fixed overhead (measured 5.6 s -> 2.1 s for the q115
    join at 8).  Size it to expected STATE volume: at 100 TB you raise
    it, and you must keep it constant across restarts of the same
    checkpoint.  Results are partition-count independent.

    ``resume=True`` keeps the previous run's checkpoint + data for this
    ``query_name`` instead of clearing them, so a re-run against a
    source that gained files processes ONLY the new offsets (Spark's
    file-source offset log) and appends their results — the
    incremental-ingest deployment shape: at 100 TB you resume offsets,
    never reprocess the lake.  Requires the same plan, provider, and
    state partitioning as the original run (Spark's checkpoint
    contract); with ``resume=False`` (default) every run starts clean.

    ``scratch_dir`` overrides the checkpoint+data root.  The default is
    keyed by the Spark application id AND ``query_name``, so two
    concurrent processes (a bench run alongside pytest, parallel test
    sessions) using the same query name can never rmtree/write/read
    each other's scratch.  Consequence: default-path ``resume=True``
    works within one session (same app id); to resume across PROCESSES
    pass an explicit stable ``scratch_dir``.

    Replay safety: append/update batches land in a ``batch-<id>``
    subdirectory written with mode=overwrite, so the standard
    foreachBatch at-least-once replay (batch job committed, streaming
    offset commit lost, crash, resume) REWRITES the same directory
    instead of appending duplicate rows; complete mode overwrites the
    whole data dir every batch and is idempotent by construction.

    ``state_store`` selects the state-store provider for THIS stream
    (``"rocksdb"`` or a provider class name; set + restored around the
    run like ``shuffle_partitions``).  The default heap-backed store
    keeps all state on the JVM heap — session-window state carrying
    transcript-sized payloads OOMed the 24g local JVM at sf30 — while
    RocksDB keeps state off-heap/on-disk, the 100 TB posture.  A
    stream's provider is fixed at first start and must stay constant
    across restarts of the same checkpoint.

    ``input_bytes`` (e.g. ``dataset_bytes(sf_dir)``) enables the
    AUTO provider choice when ``state_store`` is None: rocksdb at/above
    the measured 256 MB crossover (session.auto_state_store — heap is
    faster below, OOM-prone above), else the session default.  An
    explicit ``state_store`` always wins.

    One micro-batch for a bounded dedup stream: with ``resume=False``,
    ``append`` output and a plan whose only stateful nodes are
    ``Deduplicate`` / ``DeduplicateWithinWatermark`` (decided by walking
    the analyzed plan's node classes), the stream starts with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false``.  Its
    trailing availableNow batch would emit no rows; it only evicts dedup
    state from a checkpoint the next clean run deletes (q141 at sf0.01:
    2 -> 1 batches, state commit 1.52 -> 0.04 s).  Aggregates, joins and
    the ``*WithState`` operators keep it: they emit on no-data batches
    (closed windows, outer-join nulls, timers).

    NOT re-entrant when ``shuffle_partitions`` or ``state_store`` is
    set, or the one-batch rule applies: the override mutates
    session-global conf around the stream start, so any query planned
    concurrently on the shared SparkSession (e.g. parallel test
    execution) can capture the temporary value.  Callers that need
    isolation should pass a dedicated ``SparkSession.newSession()``
    stream instead."""
    try:
        nodes = (
            _streaming_node_classes(stream_df) if stream_df.isStreaming
            else set()
        )
    except Exception as exc:
        # Spark Connect (_jdf absent): callers must pass output_mode
        # explicitly, and the no-data batch stays on
        if output_mode is None:
            raise RuntimeError(
                "run_to_completion could not inspect the analyzed plan "
                "to pick an output mode (classic PySpark only); pass "
                "output_mode explicitly: " + repr(exc)
            ) from exc
        nodes = set()
    if output_mode is None:
        output_mode = "complete" if "Aggregate" in nodes else "append"
    one_batch = not resume and output_mode == "append" and _dedup_only(nodes)
    spark = stream_df.sparkSession
    if state_store is None and input_bytes is not None:
        from ominimo_dynamic_data_pipeline_spark.session import (
            auto_state_store,
        )

        state_store = auto_state_store(input_bytes)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    prev_no_data = spark.conf.get(NO_DATA_BATCHES_KEY, None)
    if one_batch:
        spark.conf.set(NO_DATA_BATCHES_KEY, "false")
    if state_store is not None:
        lowered = state_store.lower()
        if lowered == "rocksdb":
            provider = ROCKSDB_PROVIDER
        elif lowered in ("heap", "hdfs"):
            # the stock on-heap store's class name is an implementation
            # detail callers shouldn't have to spell
            provider = HEAP_PROVIDER
        else:
            provider = state_store  # explicit provider class passthrough
        spark.conf.set(provider_key, provider)

    import shutil
    import tempfile

    if scratch_dir is not None:
        scratch = Path(scratch_dir)
    else:
        try:
            app_id = spark.sparkContext.applicationId
        except Exception:  # Spark Connect: no sparkContext on the client
            app_id = "shared"
        scratch = (
            Path(tempfile.gettempdir())
            / "spark_graft_streams"
            / app_id
            / query_name
        )
    if not resume:
        shutil.rmtree(scratch, ignore_errors=True)
    data_dir = str(scratch / "data")
    complete_mode = output_mode == "complete"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if complete_mode:
            # latest full result wins — replay overwrites, idempotent
            batch_df.write.mode("overwrite").parquet(data_dir)
        else:
            # append/update: one overwritten directory per batch id, so a
            # replayed batch (job committed, offset commit lost) rewrites
            # its own directory instead of appending duplicates
            batch_df.write.mode("overwrite").parquet(
                f"{data_dir}/batch-{batch_id:09d}"
            )

    try:
        q = (
            stream_df.writeStream.foreachBatch(_sink)
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", str(scratch / "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            prog = list(q.recentProgress)
            ms = lambda p, k: (p["durationMs"] or {}).get(k, 0)  # noqa: E731
            state_ops = [
                so for p in prog for so in (p.get("stateOperators") or [])
            ]

            def state_sum_sec(key: str) -> float:
                return round(
                    sum(int(so.get(key) or 0) for so in state_ops) / 1000.0, 3
                )

            def state_peak(key: str) -> int:
                return max((int(so.get(key) or 0) for so in state_ops), default=0)

            LAST_RUN_STATS[query_name] = {
                # provider evidence: RocksDB stores report rocksdb*
                # custom metrics per state operator, heap stores do not
                "rocksdb_state": any(
                    k.startswith("rocksdb")
                    for so in state_ops
                    for k in (so.get("customMetrics") or {})
                ),
                "batches": len(prog),
                "input_rows": int(sum(p["numInputRows"] or 0 for p in prog)),
                "trigger_exec_sec": round(
                    sum(ms(p, "triggerExecution") for p in prog) / 1000.0, 3
                ),
                "add_batch_sec": round(
                    sum(ms(p, "addBatch") for p in prog) / 1000.0, 3
                ),
                # everything that is NOT data work: planning, offset
                # tracking, WAL/offset commits — the per-batch fixed cost
                "fixed_overhead_sec": round(
                    sum(
                        ms(p, "triggerExecution") - ms(p, "addBatch")
                        for p in prog
                    )
                    / 1000.0,
                    3,
                ),
                # state-operator decomposition (round-10: names WHERE
                # inside addBatch a stateful stream spends its time —
                # update/commit/removal are the store, the remainder is
                # scan+shuffle+sink).  Times are summed across batches
                # and operators; rows/memory are the PEAK across batches
                # (max(), not the final batch — eviction-heavy streams
                # like q141's watermark expiry shrink state between
                # batches, and the peak is what sizes the store).
                "state_update_sec": state_sum_sec("allUpdatesTimeMs"),
                "state_commit_sec": state_sum_sec("commitTimeMs"),
                "state_removal_sec": state_sum_sec("allRemovalsTimeMs"),
                "state_rows_total": state_peak("numRowsTotal"),
                # the state-store count the stream really ran with; the
                # session-window operator reports 0 instances (Spark
                # 4.1), and it keeps one store per shuffle partition
                "state_store_instances": max(
                    (
                        int(
                            so.get("numStateStoreInstances")
                            or so.get("numShufflePartitions")
                            or 0
                        )
                        for so in state_ops
                    ),
                    default=0,
                ),
                "state_memory_gb": round(
                    state_peak("memoryUsedBytes") / 2**30, 3
                ),
            }
        except Exception:  # accounting must never fail the run
            LAST_RUN_STATS.pop(query_name, None)
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        for key, was, changed in (
            (provider_key, prev_provider, state_store is not None),
            (NO_DATA_BATCHES_KEY, prev_no_data, one_batch),
        ):
            if changed:
                if was is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, was)
    has_files = Path(data_dir).is_dir() and any(
        Path(data_dir).rglob("*.parquet")
    )
    if not has_files:
        # zero rows emitted — no files to infer a schema from
        return spark.createDataFrame([], stream_df.schema)
    # recursiveFileLookup reads both layouts (flat complete-mode dir and
    # per-batch subdirs) without treating batch-NNN as a partition column
    return spark.read.option("recursiveFileLookup", "true").parquet(data_dir)


USER_TOTALS_OUTPUT = (
    "user_id bigint, n_events bigint, value_sum double, batches bigint"
)
USER_TOTALS_STATE = "n bigint, total double, batches bigint"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event counts and value sums maintained across micro-batches, one updated
    row emitted per user per batch.

    This is the escape hatch for aggregation logic Spark's built-in
    streaming aggs can't express (arbitrary per-key state transitions).
    State is one tiny struct per user, sharded across partitions by the
    groupBy — at 1000 executors state scales horizontally; pair with a
    TTL/timeout in production to evict idle keys.

    On a static frame this degrades to the equivalent one-shot groupBy
    (batches=1), which the batch-equivalence test exploits.
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.lit(1).cast("bigint").alias("batches"),
        )

    def update(key, pdfs, state) -> Any:
        import pandas as pd

        n, total, batches = (
            state.get if state.exists else (0, 0.0, 0)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        batches += 1
        state.update((n, total, batches))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [total],
                "batches": [batches],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_OUTPUT,
        stateStructType=USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


FUNNEL_OUTPUT = (
    "user_id bigint, step_1_us bigint, step_2_us bigint, "
    "step_3_us bigint, batches bigint"
)
FUNNEL_STATE = "t1 bigint, t2 bigint, t3 bigint, batches bigint"
_FUNNEL_UNSET = -1


def stateful_funnel(events: DataFrame, horizon_us: int) -> DataFrame:
    """Greedy-earliest view->click->purchase funnel as a CUSTOM stateful
    streaming operator (applyInPandasWithState): per-user state is the
    three step timestamps (micros; -1 = unreached), updated as events
    arrive — the continuously-maintained deployment of the q185 batch
    operator.  Within a micro-batch events sort by (us, event_id), so a
    single availableNow replay computes the exact batch semantics;
    across batches the update is exact under in-order per-key arrival
    (a later batch cannot lower an already-anchored step — staying
    exact under arbitrary disorder needs the event buffer this bounded
    state deliberately avoids; q185 is the reprocessing path).

    On a static frame this degrades to the one-shot window_funnel,
    which the batch-equivalence comparison exploits.
    """
    if not events.isStreaming:
        from ominimo_dynamic_data_pipeline_spark.operators.features import (
            window_funnel,
        )

        out = window_funnel(
            events,
            user_col="user_id",
            ts_col="ts",
            type_col="event_type",
            steps=("view", "click", "purchase"),
            horizon_us=horizon_us,
        )
        return out.select(
            "user_id",
            "step_1_us",
            "step_2_us",
            "step_3_us",
            F.lit(1).cast("bigint").alias("batches"),
        )

    base = events.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )

    def update(key, pdfs, state) -> Any:
        import pandas as pd

        t1, t2, t3, batches = (
            state.get
            if state.exists
            else (_FUNNEL_UNSET, _FUNNEL_UNSET, _FUNNEL_UNSET, 0)
        )
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames).sort_values(["us", "event_id"])
        for us, typ in zip(rows["us"], rows["event_type"]):
            us = int(us)
            if typ == "view":
                if t1 == _FUNNEL_UNSET:
                    t1 = us
            elif typ == "click":
                if (
                    t2 == _FUNNEL_UNSET
                    and t1 != _FUNNEL_UNSET
                    and us >= t1
                    and us - t1 <= horizon_us
                ):
                    t2 = us
            elif typ == "purchase":
                if (
                    t3 == _FUNNEL_UNSET
                    and t2 != _FUNNEL_UNSET
                    and us >= t2
                    and us - t1 <= horizon_us
                ):
                    t3 = us
        batches += 1
        state.update((t1, t2, t3, batches))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "step_1_us": [t1],
                "step_2_us": [t2],
                "step_3_us": [t3],
                "batches": [batches],
            }
        )

    return base.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT,
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def session_transcripts(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
    turn_col: str = "event_type",
    max_turns: int = 500,
) -> DataFrame:
    """Ordered per-session transcripts: the conversation-assembly step
    that turns interaction logs into chat-style training samples — one
    row per (user, gap-session) with the session's turns concatenated in
    (ts, event_id) order.

    Works batch AND streaming (session_window + a single agg, so the
    streaming path keeps per-open-session state and the watermark evicts
    closed sessions).  ``max_turns`` bounds the TRANSCRIPT at assembly
    (a runaway bot session would otherwise build an unbounded string in
    one aggregation buffer): turns beyond it are dropped from the text
    and flagged ``truncated``; ``n_turns`` still counts all.  Ordering
    is deterministic — turns sort by the full (ts, event_id) struct, so
    retries and the oracle agree bit-exactly."""
    if max_turns <= 0:
        raise ValueError("session_transcripts: max_turns must be positive")
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    turn = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col(turn_col).cast("string").alias("txt"),
    )
    grouped = src.groupBy(
        F.session_window("ts", gap).alias("sess"), F.col("user_id")
    ).agg(
        F.sort_array(F.collect_list(turn)).alias("_turns"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    kept = F.slice("_turns", 1, max_turns)
    return grouped.select(
        "user_id",
        F.col("sess.start").alias("session_start"),
        "n_turns",
        F.array_join(
            F.transform(kept, lambda t: t["txt"]), " "
        ).alias("transcript"),
        (F.col("n_turns") > max_turns).alias("truncated"),
    )
