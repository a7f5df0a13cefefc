"""Streaming parity tests: every streaming op's availableNow run over the
events table must equal the same aggregation computed on the static frame
(batch-equivalence, SURVEY.md §5.5), plus watermark late-data and
foreachBatch split behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table
from ominimo_dynamic_data_pipeline_spark.streaming import ops


def _collect_sorted(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def static_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def stream_events(spark, sf_dir):
    return ops.read_events_stream(spark, sf_dir)


def test_tumbling_batch_equivalence(spark, static_events, stream_events):
    streamed = ops.run_to_completion(
        ops.tumbling_counts(stream_events), "t_tumbling"
    )
    batch = ops.tumbling_counts(static_events)
    cols = ["window_start", "event_type", "n_events", "value_sum"]
    assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)
    assert streamed.count() > 0


def test_sliding_batch_equivalence(spark, static_events, stream_events):
    streamed = ops.run_to_completion(
        ops.sliding_counts(stream_events), "t_sliding"
    )
    batch = ops.sliding_counts(static_events)
    cols = ["window_start", "event_type", "n_events"]
    assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)
    # sliding windows overlap: more windows than tumbling
    assert streamed.count() > ops.tumbling_counts(static_events).count()


def test_session_batch_equivalence(spark, static_events, stream_events):
    streamed = ops.run_to_completion(
        ops.session_counts(stream_events), "t_session"
    )
    batch = ops.session_counts(static_events)
    cols = ["user_id", "session_start", "n_events"]
    assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)


def test_session_window_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:03:00"),  # same session (< 5 min gap)
        (1, "2024-01-01 00:20:00"),  # new session
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = ops.session_counts(df, gap="5 minutes")
    per_user = {(r["user_id"], str(r["session_start"])): r["n_events"] for r in out.collect()}
    assert per_user[(1, "2024-01-01 00:00:00")] == 2
    assert per_user[(1, "2024-01-01 00:20:00")] == 1
    assert per_user[(2, "2024-01-01 00:00:00")] == 1


def test_stream_dedup_drops_repeats(spark, tmp_path):
    # Write a parquet dir with duplicated event_ids, stream-dedup it.
    base_ns = 1_704_067_200 * 1_000_000_000  # 2024-01-01, clear of epoch 0
    rows = [
        (i % 3, base_ns + (i % 3) * 1_000_000_000, 1, "click", 1.0, "{}")
        for i in range(9)
    ]
    src = spark.createDataFrame(rows, ops.EVENTS_SCHEMA)
    src_dir = str(tmp_path / "dup_events")
    src.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(ops.EVENTS_SCHEMA).format("parquet").load(src_dir)
    ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = ops.stream_dedup(stream, keys=["event_id"])

    out_dir = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    assert {r["event_id"] for r in got.collect()} == {0, 1, 2}


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    # The watermark's late-data DROP is only observable in append/update
    # mode with an advancing watermark.  Two availableNow runs sharing a
    # checkpoint: run 1 processes on-time data and persists its watermark;
    # run 2 adds one row far OLDER than that watermark plus one fresh row.
    # The stale row must be dropped, the fresh row aggregated.
    base_ns = 1_704_067_200 * 1_000_000_000  # 2024-01-01
    hour_ns = 3_600 * 1_000_000_000
    src_dir = tmp_path / "late_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_batch(rows, name):
        df = spark.createDataFrame(rows, ops.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(ops.EVENTS_SCHEMA)
            .format("parquet")
            .load(str(src_dir))
        ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        agg = ops.tumbling_counts(
            stream, window="10 minutes", watermark="30 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events at t0 .. t0+2h advance the watermark to ~t0+90min
    run_batch(
        [(i, base_ns + i * hour_ns, 1, "click", 1.0, "{}") for i in range(3)],
        "first",
    )
    # run 2: one stale row at t0-2h (far below watermark) + one fresh row
    run_batch(
        [
            (100, base_ns - 2 * hour_ns, 1, "click", 1.0, "{}"),
            (101, base_ns + 3 * hour_ns, 1, "click", 1.0, "{}"),
        ],
        "second",
    )
    got = spark.read.parquet(out_dir)
    starts = {r["window_start"] for r in got.collect()}
    import datetime as dt

    stale_window = dt.datetime(2023, 12, 31, 22, 0)
    assert stale_window not in starts  # late row dropped by the watermark
    assert dt.datetime(2024, 1, 1, 0, 0) in starts  # on-time data emitted


def test_interval_join_batch_equivalence(spark, static_events, stream_events):
    # stream-stream interval join (bounded state) == the same range join
    # on the static frame.
    streamed = ops.run_to_completion(
        ops.interval_click_attribution(stream_events), "interval_join"
    )
    batch = ops.interval_click_attribution(static_events)
    s = {(r["purchase_id"], r["click_id"]) for r in streamed.collect()}
    b = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert s == b and b  # non-empty and identical pair sets


def test_run_to_completion_handles_non_aggregation_streams(spark, tmp_path):
    # run_to_completion must auto-pick append for non-aggregation streams
    # (complete raises AnalysisException for them) while still choosing
    # complete for windowed aggregations.
    base_ns = 1_704_067_200 * 1_000_000_000
    rows = [
        (i % 3, base_ns + (i % 3) * 1_000_000_000, 1, "click", 1.0, "{}")
        for i in range(9)
    ]
    src = spark.createDataFrame(rows, ops.EVENTS_SCHEMA)
    src_dir = str(tmp_path / "rtc_events")
    src.write.parquet(src_dir)
    stream = (
        spark.readStream.schema(ops.EVENTS_SCHEMA).format("parquet").load(src_dir)
    ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    got = ops.run_to_completion(
        ops.stream_dedup(stream, keys=["event_id"]), "rtc_dedup"
    )
    assert got.count() == 3


def test_foreachbatch_validated_split(spark, sf_dir, tmp_path):
    """Streaming OK/KO split must partition the input exactly like the
    batch validator."""
    rules = [{"field": "event_type", "validations": ["notEmpty"]},
             {"field": "value", "validations": ["min:50"]}]
    stream = ops.read_events_stream(spark, sf_dir)
    ok_path = str(tmp_path / "ok")
    ko_path = str(tmp_path / "ko")
    q = (
        stream.writeStream.foreachBatch(
            ops.validated_split_writer(rules, ok_path, ko_path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    static = load_table(spark, sf_dir, "events")
    from ominimo_dynamic_data_pipeline_spark.operators.validate import (
        apply_validations,
    )

    batch_split = apply_validations(static, rules)
    ok = spark.read.parquet(ok_path)
    ko = spark.read.parquet(ko_path)
    assert ok.count() == batch_split.ok.count()
    assert ko.count() == batch_split.ko.count()
    assert ok.count() + ko.count() == static.count()
    sample_errors = ko.filter(F.col("value") < 50).select("validation_errors").first()
    assert sample_errors["validation_errors"] == ["value:must_be_at_least_50.0"]


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    from ominimo_dynamic_data_pipeline_spark.streaming import ops

    stream = ops.stateful_user_totals(ops.read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: r
        for r in spark.table("user_totals")
        .groupBy("user_id")  # keep the last emit per user
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_sum").alias("value_sum"),
        )
        .collect()
    }
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    batch = {
        r["user_id"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for uid in got:
        assert got[uid]["n_events"] == batch[uid]["n_events"]
        assert abs(got[uid]["value_sum"] - batch[uid]["value_sum"]) < 1e-6


def test_keyed_upsert_latest_wins_across_batches(spark, tmp_path):
    # Two availableNow runs sharing a checkpoint = two ordered micro-batches.
    # Batch 1 inserts users 1,2 (user 1 twice — higher ts must win inside
    # the batch too); batch 2 updates user 2 and inserts user 3.
    base_ns = 1_704_067_200 * 1_000_000_000
    sec = 1_000_000_000
    src_dir = tmp_path / "upsert_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "upsert_ckpt")
    tbl = str(tmp_path / "user_state")
    writer = ops.keyed_upsert_writer(
        tbl, key_cols=["user_id"], order_col="ts", num_buckets=4
    )

    def run_batch(rows):
        df = spark.createDataFrame(rows, ops.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(ops.EVENTS_SCHEMA)
            .format("parquet")
            .load(str(src_dir))
        ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch([
        (10, base_ns, 1, "click", 10.0, "{}"),
        (11, base_ns + 5 * sec, 1, "click", 11.0, "{}"),  # later -> wins
        (12, base_ns + 1 * sec, 2, "click", 20.0, "{}"),
    ])
    run_batch([
        (13, base_ns + 10 * sec, 2, "purchase", 25.0, "{}"),  # update
        (14, base_ns + 11 * sec, 3, "click", 30.0, "{}"),     # insert
    ])

    state = {r["user_id"]: r for r in ops.read_upserted(spark, tbl).collect()}
    assert sorted(state) == [1, 2, 3]           # one row per key
    assert state[1]["value"] == 11.0            # in-batch latest won
    assert state[2]["value"] == 25.0            # cross-batch update won
    assert state[2]["event_type"] == "purchase"
    assert state[3]["value"] == 30.0


def test_tumbling_update_mode_emits_only_changed_windows(spark, tmp_path):
    # Update mode re-emits ONLY the windows the trigger touched — the
    # incremental contract complete mode cannot show.  Two availableNow
    # runs on one checkpoint; run 2 adds a single event to window W2, so
    # its foreachBatch must see exactly the updated W2 row.
    base_ns = 1_704_067_200 * 1_000_000_000
    minute_ns = 60 * 1_000_000_000
    src_dir = tmp_path / "upd_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "upd_ckpt")
    emitted: list[list] = []

    def capture(batch_df, batch_id):
        emitted.append(batch_df.collect())

    def run(rows):
        df = spark.createDataFrame(rows, ops.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(ops.EVENTS_SCHEMA)
            .format("parquet")
            .load(str(src_dir))
        ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        agg = ops.tumbling_counts(stream, window="10 minutes",
                                  watermark="30 minutes")
        q = (
            agg.writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run([
        (1, base_ns + 1 * minute_ns, 1, "click", 1.0, "{}"),    # W1
        (2, base_ns + 11 * minute_ns, 1, "click", 1.0, "{}"),   # W2
    ])
    run1_batches = len(emitted)
    run([
        (3, base_ns + 12 * minute_ns, 1, "click", 1.0, "{}"),   # W2 again
    ])

    first = {(r["window_start"].minute, r["n_events"])
             for batch in emitted[:run1_batches] for r in batch}
    assert first == {(0, 1), (10, 1)}              # run 1 emitted W1 and W2
    second = [r for batch in emitted[run1_batches:] for r in batch]
    assert len(second) == 1                        # ONLY the changed window
    assert second[0]["window_start"].minute == 10
    assert second[0]["n_events"] == 2              # updated, not re-inserted


def test_stream_static_enrichment_batch_equivalence(spark, sf_dir, static_events, stream_events):
    dim = load_table(spark, sf_dir, "customer")
    streamed = ops.run_to_completion(
        ops.enriched_segment_counts(stream_events, dim), "t_enrich"
    )
    batch = ops.enriched_segment_counts(static_events, dim)
    cols = ["window_start", "c_mktsegment", "n_events", "value_sum"]
    assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)
    assert streamed.count() > 0


def test_rocksdb_state_store_batch_equivalence(spark, static_events, stream_events):
    """The q33/q34 streaming runs under the RocksDB state store provider —
    the production-scale store (state lives off-heap/on-disk per executor
    instead of the JVM heap, the right choice when windowed state at 100 TB
    exceeds executor memory) — driven with Trigger.AvailableNow, must equal
    the default-provider runs and the static batch twins exactly."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        streamed = ops.run_to_completion(
            ops.tumbling_counts(stream_events), "t_tumbling_rocksdb"
        )
        batch = ops.tumbling_counts(static_events)
        cols = ["window_start", "event_type", "n_events", "value_sum"]
        assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)

        sessions = ops.run_to_completion(
            ops.session_counts(stream_events), "t_session_rocksdb"
        )
        sbatch = ops.session_counts(static_events)
        scols = ["user_id", "session_start", "n_events"]
        assert _collect_sorted(sessions, scols) == _collect_sorted(sbatch, scols)

        totals = ops.run_to_completion(
            ops.stateful_user_totals(stream_events),
            "t_user_totals_rocksdb",
            output_mode="update",
        )
        tbatch = ops.stateful_user_totals(static_events)
        got = {
            r["user_id"]: (r["n_events"], r["value_sum"])
            for r in totals.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("value_sum").alias("value_sum"),
            )
            .collect()
        }
        want = {
            r["user_id"]: (r["n_events"], r["value_sum"])
            for r in tbatch.collect()
        }
        assert set(got) == set(want)
        for uid in want:
            assert got[uid][0] == want[uid][0]
            # float accumulation order differs between the incremental
            # per-batch fold and the one-shot batch agg: ulp tolerance
            assert abs(got[uid][1] - want[uid][1]) < 1e-6
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_sized_state_partitions_directory_dataset_and_conf_guard(
    spark, sf_dir, tmp_path
):
    """Directory-style parquet datasets must size by the SUM of their data
    files (getsize on the dirent is ~4 KB and silently collapsed to the
    floor pre-fix), and a non-numeric shuffle-partitions conf value falls
    back to the floor instead of raising."""
    out = str(tmp_path / "events_dir")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(out)
    flat = ops.sized_state_partitions(
        spark, sf_dir, table="events.parquet", target_bytes=1 << 10, floor=2
    )
    as_dir = ops.sized_state_partitions(
        spark, str(tmp_path), table="events_dir", target_bytes=1 << 10, floor=2
    )
    # same data, so the directory sizing must land in the same ballpark as
    # the single-file sizing (not collapse to the floor)
    assert as_dir > 2
    assert 0.5 <= as_dir / flat <= 2.5

    # Spark 4 validates this conf at set-time, so a live session can't
    # carry "auto" — but other harnesses can hand us one that does; the
    # function only touches spark.conf.get, so a stub exercises the guard.
    from types import SimpleNamespace

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto")
    )
    n = ops.sized_state_partitions(
        fake, sf_dir, table="events.parquet", floor=5
    )
    assert n == 5  # non-numeric cap -> clamp to the floor


def test_transcript_batch_equivalence(spark, static_events, stream_events):
    """session_transcripts through the REAL streaming path equals the
    batch assembly — same sessions, same turn order, same truncation."""
    streamed = ops.run_to_completion(
        ops.session_transcripts(stream_events), "t_transcripts"
    )
    batch = ops.session_transcripts(static_events)
    cols = ["user_id", "session_start", "n_turns", "transcript", "truncated"]
    assert _collect_sorted(streamed, cols) == _collect_sorted(batch, cols)
    assert streamed.count() > 0


def test_stateful_funnel_batch_equivalence(
    spark, static_events, stream_events
):
    """stateful_funnel through the REAL streaming path (per-user greedy
    step state in applyInPandasWithState) equals the one-shot
    window_funnel degrade on the static frame — per-user step
    timestamps, with -1 sentinels mapping to batch NULLs."""
    horizon = 7 * 24 * 3600 * 1_000_000
    streamed = ops.run_to_completion(
        ops.stateful_funnel(stream_events, horizon_us=horizon),
        "t_stateful_funnel",
        output_mode="update",
    )
    from pyspark.sql import functions as F

    final = streamed.groupBy("user_id").agg(
        F.max_by(
            F.struct("step_1_us", "step_2_us", "step_3_us"), "batches"
        ).alias("s")
    )
    got = {
        r["user_id"]: tuple(
            None if v == -1 else v
            for v in (
                r["s"]["step_1_us"], r["s"]["step_2_us"], r["s"]["step_3_us"]
            )
        )
        for r in final.collect()
    }
    batch = ops.stateful_funnel(static_events, horizon_us=horizon)
    want = {
        r["user_id"]: (r["step_1_us"], r["step_2_us"], r["step_3_us"])
        for r in batch.collect()
    }
    assert got == want
    assert any(t3 is not None for _, _, t3 in got.values())


def test_transcript_truncation_and_order(spark):
    """max_turns truncates the TEXT only (n_turns counts all, truncated
    flags); turns order by (ts, event_id) even when input is shuffled."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 10, 0, i), 1, f"t{i}")
        for i in (3, 0, 4, 1, 2)  # shuffled arrival
    ]
    df = spark.createDataFrame(
        rows, schema="event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = ops.session_transcripts(df, gap="5 minutes", max_turns=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_turns"] == 5 and r["truncated"] is True
    assert r["transcript"] == "t0 t1 t2"  # ts order, first 3 only
    with pytest.raises(ValueError, match="max_turns must be positive"):
        ops.session_transcripts(df, max_turns=0)


def test_rocksdb_state_store_path_and_conf_restore(spark, sf_dir):
    """q202 (tenth streaming path): stateful totals through the RocksDB
    state-store provider match the one-shot batch aggregate, the stream
    REALLY ran on RocksDB (provider-specific custom metrics in the
    last progress), and run_to_completion restores the session's
    provider conf afterwards."""
    from ominimo_dynamic_data_pipeline_spark.queries.windows_batch import (
        q202_streaming_totals_rocksdb_e2e,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    got = {
        r["user_id"]: (r["n_events"], r["value_sum"])
        for r in q202_streaming_totals_rocksdb_e2e(spark, sf_dir).collect()
    }
    assert spark.conf.get(key, None) == before, "provider conf leaked"

    # the finished stream reports RocksDB-specific custom state metrics
    # (heap-backed stores report none) — proof the provider switch took
    from ominimo_dynamic_data_pipeline_spark.streaming import ops
    stats = ops.LAST_RUN_STATS.get("q202_totals_rocksdb_sink")
    assert stats and stats["input_rows"] > 0
    assert stats["rocksdb_state"] is True

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    want = {
        r["user_id"]: (r["n_events"], r["value_sum"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for u, (n, v) in want.items():
        assert got[u][0] == n
        assert abs(got[u][1] - v) < 1e-6


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """Incremental-ingest e2e (the 100 TB resume story): a second
    run_to_completion over the same checkpoint processes ONLY the files
    that arrived since the first run (Spark file-source offset log),
    restores the per-key state, and the appended sink's latest emits
    equal the one-shot batch aggregate over everything."""
    import shutil

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    part1 = events.filter(F.col("event_id") % 2 == 0)
    part2 = events.filter(F.col("event_id") % 2 == 1)
    src_dir = str(tmp_path / "incoming")
    part1.write.mode("overwrite").parquet(src_dir)
    # drop Spark's _SUCCESS etc. noise is fine; readStream globs *.parquet
    schema = spark.read.parquet(src_dir).schema

    def stream():
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
        )
        return ops.stateful_user_totals(raw)

    name = "resume_totals_sink"
    shutil.rmtree(f"/tmp/spark_graft_streams/{name}", ignore_errors=True)
    ops.run_to_completion(stream(), name, output_mode="update")
    n1 = ops.LAST_RUN_STATS[name]["input_rows"]
    assert n1 == part1.count()

    # new files land; resume from the same checkpoint
    part2.write.mode("append").parquet(src_dir)
    out = ops.run_to_completion(
        stream(), name, output_mode="update", resume=True
    )
    n2 = ops.LAST_RUN_STATS[name]["input_rows"]
    assert n2 == part2.count(), "resume reprocessed old offsets"

    final = out.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "value_sum"), "batches").alias("s")
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["value_sum"], 2))
        for r in final.select(
            "user_id", "s.n_events", "s.value_sum"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in spark.read.parquet(src_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, v) in want.items():
        assert got[u][0] == n, u
        assert abs(got[u][1] - v) < 1e-6, u


def test_cleanup_scratch_scoping(spark, tmp_path, monkeypatch):
    # Round-10 ADVICE fix: the cross-application sweep must be OPT-IN.
    # With a resolvable app id only THIS app's root is removed; with no
    # handle the call is a no-op unless all_apps=True is passed.
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = tmp_path / "spark_graft_streams"
    mine = root / spark.sparkContext.applicationId
    other = root / "some-other-live-app"
    for d in (mine, other):
        (d / "checkpoint").mkdir(parents=True)
        (d / "checkpoint" / "state").write_text("x")

    # scoped: removes only this app's root
    assert ops.cleanup_scratch(spark) == 1
    assert not mine.exists() and other.exists()

    # no handle + no opt-in: no-op (a concurrent session's live
    # checkpoints must never be collateral)
    assert ops.cleanup_scratch(None) == 0
    assert other.exists()

    # explicit opt-in sweeps everything left
    assert ops.cleanup_scratch(None, all_apps=True) == 1
    assert not other.exists()


def test_stream_sources_read_directory_layout(spark, sf_dir, tmp_path):
    # Real lakes (and the multi-file sf100 re-layout) store each table as
    # a DIRECTORY of part files; pathGlobFilter matches leaf file names,
    # so the single-file listing trick would read zero part files there.
    # Both stream sources must detect the layout and load the table dir
    # directly, producing the same rows as the batch reader.
    from ominimo_dynamic_data_pipeline_spark.streaming import ops as so

    for table, reader in (
        ("events", so.read_events_stream),
        ("documents", so.read_documents_stream),
    ):
        src = f"{sf_dir}/{table}.parquet"
        spark.read.parquet(src).repartition(3).write.parquet(
            str(tmp_path / f"{table}.parquet")
        )
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    stream = so.read_events_stream(spark, str(tmp_path))
    assert stream.isStreaming
    out = so.run_to_completion(
        so.stream_dedup(stream.union(stream), keys=("event_id",)),
        "dir_layout_events_sink",
        shuffle_partitions=4,
        scratch_dir=str(tmp_path / "scratch_e"),
    )
    assert out.count() == expected

    dstream = so.read_documents_stream(spark, str(tmp_path))
    assert dstream.isStreaming
    docs_expected = spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).count()
    dout = so.run_to_completion(
        dstream.groupBy().count(),
        "dir_layout_docs_sink",
        output_mode="complete",
        shuffle_partitions=4,
        scratch_dir=str(tmp_path / "scratch_d"),
    )
    assert dout.collect()[0]["count"] == docs_expected


def test_no_data_batch_rule_reads_plan_node_classes(
    spark, sf_dir, stream_events
):
    """Only a plan whose stateful nodes are all dedups may skip the
    trailing no-data batch; aggregates, joins and *WithState operators
    emit on it.  Static subtrees (a stream-static join's dimension side)
    are not walked."""
    def dedup_only(df):
        return ops._dedup_only(ops._streaming_node_classes(df))

    e = stream_events
    assert dedup_only(ops.stream_dedup(e.union(e), keys=("event_id",)))
    assert dedup_only(e.dropDuplicates(["event_id"]).filter("value > 0"))
    assert not dedup_only(e.filter("value > 0"))  # stateless: nothing to skip
    assert not dedup_only(ops.tumbling_counts(e))
    assert not dedup_only(ops.interval_click_attribution(e))
    assert not dedup_only(ops.stateful_user_totals(e))
    assert not dedup_only(ops.stream_dedup(e).limit(5))  # unknown node: keep
    dim = load_table(spark, sf_dir, "customer")
    assert not dedup_only(ops.enriched_segment_counts(e, dim))
    # a static-side dedup holds no state; the streaming aggregate emits
    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D

    fresh = D.incremental_exact_dedup(
        ops.read_documents_stream(spark, sf_dir),
        load_table(spark, sf_dir, "documents").select(F.md5("text").alias("fp")),
    )
    assert not dedup_only(fresh)


def test_bounded_dedup_stream_runs_one_batch_on_one_store(spark, sf_dir):
    """q141 at sf0.01 (~220 KB of events): one state store sized to the
    source and no trailing eviction batch, with the oracle's answer."""
    import os

    from ominimo_dynamic_data_pipeline_spark.queries.windows_batch import (
        q141_streaming_dedup_e2e,
    )

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata missing")
    got = _collect_sorted(
        q141_streaming_dedup_e2e(spark, sf),
        ["event_type", "n_events", "value_sum"],
    )
    stats = ops.LAST_RUN_STATS["q141_streaming_dedup_sink"]
    assert stats["batches"] == 1
    assert stats["state_store_instances"] == 1
    assert stats["state_rows_total"] == stats["input_rows"] // 2
    want = _collect_sorted(
        load_table(spark, sf, "events").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        ),
        ["event_type", "n_events", "value_sum"],
    )
    assert got == want


def test_append_window_stream_keeps_no_data_batch(
    spark, static_events, stream_events
):
    """An append-mode windowed aggregate emits its closed windows on the
    no-data batch that follows the data: skipping it would return
    nothing."""
    import datetime as dt

    name = "t_tumbling_append"
    streamed = ops.run_to_completion(
        ops.tumbling_counts(stream_events), name, output_mode="append"
    )
    assert ops.LAST_RUN_STATS[name]["batches"] >= 2
    watermark = static_events.agg(F.max("ts")).first()[0] - dt.timedelta(
        minutes=30
    )
    closed = ops.tumbling_counts(static_events).filter(
        F.col("window_end") <= F.lit(watermark)
    )
    cols = ["window_start", "event_type", "n_events", "value_sum"]
    want = _collect_sorted(closed, cols)
    assert want and _collect_sorted(streamed, cols) == want


def test_resumable_dedup_run_keeps_no_data_batch(stream_events, tmp_path):
    """The one-batch rule applies to clean runs only: a resume=True run
    keeps the eviction batch, since its checkpoint outlives the run."""
    dedup = ops.stream_dedup(stream_events, keys=("event_id",))
    for resume, batches in ((False, 1), (True, 2)):
        name = f"t_dedup_resume_{resume}"
        out = ops.run_to_completion(
            dedup, name, resume=resume, scratch_dir=str(tmp_path / name)
        )
        assert ops.LAST_RUN_STATS[name]["batches"] == batches
        assert out.count() == ops.LAST_RUN_STATS[name]["input_rows"]


def test_failing_stream_restores_session_conf(spark, stream_events, tmp_path):
    """A foreachBatch that raises still restores every conf the run
    overrode around the stream start."""
    keys = (ops.NO_DATA_BATCHES_KEY, "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k, None) for k in keys}
    boom = ops.stream_dedup(stream_events).withColumn(
        "boom", F.expr("cast(assert_true(event_id < 0) as bigint)")
    )
    with pytest.raises(Exception):
        ops.run_to_completion(
            boom,
            "t_failing_sink",
            shuffle_partitions=3,
            scratch_dir=str(tmp_path / "failing"),
        )
    assert {k: spark.conf.get(k, None) for k in keys} == before
