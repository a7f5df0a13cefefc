"""Auto-posture rules (round-7 verdict item #3): shuffle width and
state-store provider derive from estimated input bytes, pinned at the
MEASURED boundaries from the sf10/sf30 soak (BENCH_sf30.json) so the
encoded defaults can never drift from their evidence."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from ominimo_dynamic_data_pipeline_spark.session import (
    AUTO_ROCKSDB_THRESHOLD_BYTES,
    auto_max_partition_bytes,
    auto_shuffle_partitions,
    auto_state_store,
    estimate_input_bytes,
)

GB = 1 << 30
REPO = Path(__file__).resolve().parent.parent


def test_shuffle_width_floor_at_miniature_scale():
    # sf0.1 (~40 MB) and sf1 (~400 MB) stay at the local 32 default —
    # the measured-good width for the miniature bench
    assert auto_shuffle_partitions(40 << 20) == 32
    assert auto_shuffle_partitions(400 << 20) == 32


def test_shuffle_width_at_measured_walls():
    # sf30 (~12 GB): 32 spilled + GC-thrashed (q139 superlinear), 128 was
    # linear — the rule must produce >= 128 there.  sf100 (~16 GB,
    # lineitem-dominated, 600M rows): 159 partitions (3.8M rows each)
    # OOMed q199 in the round-8 soak — the rule must reproduce the
    # measured-good ~1.2M-rows/partition density (>= 400 partitions).
    assert auto_shuffle_partitions(12 * GB) >= 128
    assert auto_shuffle_partitions(15_959_453_514) >= 400


def test_shuffle_width_sf10_overwide_is_safe_not_narrow():
    # sf10 (~1.8 GB) measured fine at 32; the rule may go wider (AQE
    # coalesces down, never up) but must never go NARROWER than 32
    assert 32 <= auto_shuffle_partitions(2 * GB) <= 128


def test_shuffle_width_cap_and_monotonicity():
    assert auto_shuffle_partitions(100_000 * GB) == 4096
    prev = 0
    for b in (0, 1 << 20, 1 * GB, 4 * GB, 12 * GB, 100 * GB, 10_000 * GB):
        cur = auto_shuffle_partitions(b)
        assert cur >= prev
        prev = cur


def test_state_store_crossover_pins_measured_points():
    # the crossover keys on the STREAMED SOURCE's bytes: sf10 events
    # (120 MB) -> heap wins (16.0 vs 22.0 s); sf30 events (359 MB) ->
    # RocksDB wins (60.0 vs 68.1 s, and heap OOMed session state)
    assert auto_state_store(120 << 20) is None
    assert auto_state_store(359 << 20) == "rocksdb"
    # boundary behavior is explicit, not accidental
    assert auto_state_store(AUTO_ROCKSDB_THRESHOLD_BYTES - 1) is None
    assert auto_state_store(AUTO_ROCKSDB_THRESHOLD_BYTES) == "rocksdb"


def test_estimate_input_bytes_sums_data_files(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "part-1.parquet").write_bytes(b"y" * 50)
    (d / "_SUCCESS").write_bytes(b"")  # metadata files don't count
    (d / ".hidden").write_bytes(b"z" * 999)
    lone = tmp_path / "file.parquet"
    lone.write_bytes(b"w" * 7)
    assert estimate_input_bytes(str(d)) == 150
    assert estimate_input_bytes(str(d), str(lone)) == 157
    assert estimate_input_bytes(str(tmp_path / "missing")) == 0


def test_batch_gc_posture_pinned():
    # sf100 soak (BENCH_sf100.json): G1's GCLocker-starved allocation
    # path stalled the 600M-row shuffles (q199 663.8 -> 254.0 s under
    # ParallelGC) and threw OOM with free heap remaining (q97 OOM ->
    # 318.9 s).  Both JVMs (driver governs local mode, executor a real
    # cluster) must carry the throughput collector, and long multi-query
    # sessions must GC periodically so dead checkpoint/broadcast blocks
    # are actually freed.
    from ominimo_dynamic_data_pipeline_spark.session import _DEFAULTS

    assert "-XX:+UseParallelGC" in _DEFAULTS["spark.driver.extraJavaOptions"]
    assert (
        "-XX:+UseParallelGC" in _DEFAULTS["spark.executor.extraJavaOptions"]
    )
    assert _DEFAULTS["spark.cleaner.periodicGC.interval"] == "5min"


def _pin_host_ram(monkeypatch, ram_bytes: int) -> None:
    """Make ``SC_PHYS_PAGES`` report ``ram_bytes`` of physical RAM to
    ``session``; every other ``sysconf`` name reads the real host."""
    from ominimo_dynamic_data_pipeline_spark import session

    real_sysconf = os.sysconf

    def fake_sysconf(name):
        if name == "SC_PHYS_PAGES":
            return ram_bytes // real_sysconf("SC_PAGE_SIZE")
        return real_sysconf(name)

    monkeypatch.setattr(session.os, "sysconf", fake_sysconf)


def test_driver_memory_scales_with_input(monkeypatch):
    from ominimo_dynamic_data_pipeline_spark.session import _driver_memory_gb

    # base behavior unchanged without an estimate, on the real host
    assert _driver_memory_gb() <= 24
    # the rule clamps at half of RAM, so the host is pinned at the
    # measured sf100 harness (125 GB RAM, BENCH_sf100.json
    # "31 GB data vs 125 GB RAM") instead of read from the machine
    _pin_host_ram(monkeypatch, 125 * GB)
    assert _driver_memory_gb() <= 24
    # measured wall: 16 GB lineitem-dominated input OOMed the 24g heap
    # mid shuffle-write (q199 sf100) at any width; the measured 45g
    # clears it, and the docstring's ~3x input gives exactly that:
    # ceil(3 * 15_959_453_514 / 1 GiB) = ceil(44.59) = 45
    assert _driver_memory_gb(15_959_453_514) >= 45
    # miniature inputs stay at the 24g base (no pointless giant heaps)
    assert _driver_memory_gb(40 << 20) == _driver_memory_gb()
    # a 15 GiB host checks the half-of-RAM clamp: the same input gets
    # 15 / 2 -> 7g, the heap the OS can back, not the 45g it asks for
    _pin_host_ram(monkeypatch, 15 * GB)
    assert _driver_memory_gb(15_959_453_514) == 7


def test_extra_conf_merges_java_options_instead_of_replacing():
    # A caller adding one JVM flag must not silently drop the ParallelGC
    # posture or the derby.system.home pin (round-8 advice item).
    from ominimo_dynamic_data_pipeline_spark.session import (
        _DEFAULTS,
        _merge_conf,
    )

    conf = dict(_DEFAULTS)
    _merge_conf(
        conf,
        {
            "spark.driver.extraJavaOptions": "-Xss16m",
            "spark.executor.extraJavaOptions": "-Xss16m",
            "spark.sql.shuffle.partitions": "99",
        },
    )
    d = conf["spark.driver.extraJavaOptions"]
    assert "-XX:+UseParallelGC" in d and "-Dderby.system.home" in d
    # caller flag appended LAST so a conflicting flag would win in the JVM
    assert d.endswith("-Xss16m")
    e = conf["spark.executor.extraJavaOptions"]
    assert "-XX:+UseParallelGC" in e and e.endswith("-Xss16m")
    # non-JVM keys replace as before
    assert conf["spark.sql.shuffle.partitions"] == "99"
    # a key with no default passes straight through
    conf2 = {"other": "x"}
    _merge_conf(conf2, {"spark.driver.extraJavaOptions": "-Xss8m"})
    assert conf2["spark.driver.extraJavaOptions"] == "-Xss8m"


def test_scan_split_scales_with_input():
    # round-9 measured wall: a 17 GB single-file lineitem scan at the
    # miniature-good 4 MB splits is ~4300 tasks each re-parsing the
    # multi-thousand-row-group footer — 167.9 s vs 14.2 s at 128 MB
    # (2-column scan, local[32]).  The rule keeps miniature inputs at
    # the 4 MB floor and reaches the 128 MB cluster default by sf100.
    from ominimo_dynamic_data_pipeline_spark.session import (
        auto_max_partition_bytes,
    )

    MB = 1 << 20
    # miniature floor (sf0.1 ~40 MB, sf1 ~400 MB, sf10 ~1.8 GB): the
    # round-8 measured-good 4 MB posture is unchanged
    assert auto_max_partition_bytes(40 * MB, cpus=32) == 4 * MB
    assert auto_max_partition_bytes(400 * MB, cpus=32) == 4 * MB
    assert auto_max_partition_bytes(1800 * MB, cpus=32) == 4 * MB
    # the measured sf100 point: ~36 MB splits (map inputs ~1M rows — the
    # spill-then-merge disk transient at 128 MB ENOSPC'd q139, while
    # 32 MB completed it in 341.5 s vs 421.2 s at 4 MB)
    assert 32 * MB <= auto_max_partition_bytes(18 << 30, cpus=32) <= 40 * MB
    # the 128 MB cluster default is reached for >= 64 GB inputs
    assert auto_max_partition_bytes(64 << 30, cpus=32) == 128 * MB
    # monotone, never above the cluster default
    prev = 0
    for b in (0, 40 * MB, 1 << 30, 6 << 30, 18 << 30, 1 << 40):
        cur = auto_max_partition_bytes(b, cpus=32)
        assert prev <= cur <= 128 * MB
        prev = cur
    # round-10 multi-file validation (BENCH_sf100.json
    # round10_multifile_split_validation): the same 14 GB lineitem as 64 files scans in
    # 7.85 / 6.16 / 6.33 s at 4 / 34(auto) / 128 MB splits — the split
    # setting is ~irrelevant when per-file footers are small, so the
    # size-keyed rule CANNOT harmfully over-split a multi-file lake and
    # needs no layout branch.  (Single-file control: 317.9 / 46.9 /
    # 19.1 s — the footer wall lives in the layout, and the writer's
    # default multi-file output is the at-scale fix.)  The rule stays a
    # pure function of (input_bytes, cpus): pinned by re-asserting the
    # sf100 value the experiment ran at.
    assert 32 * MB <= auto_max_partition_bytes(18 << 30, cpus=32) <= 40 * MB


def test_rocksdb_state_store_tuning_pinned():
    # round-9 measured pass (BENCH_r09 notes; sf30 events, cold process
    # per reading): changelog checkpointing q141 46.2 -> 36.7 s; stacking
    # trackTotalNumberOfRows=false -> 32.1 s (-30%), q151 46.4 -> 29.4 s
    # (-37%).  Result-neutral; inert under the heap provider.
    from ominimo_dynamic_data_pipeline_spark.session import _DEFAULTS

    assert (
        _DEFAULTS[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ]
        == "true"
    )
    assert (
        _DEFAULTS[
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        ]
        == "false"
    )


_LAUNCH_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ominimo_dynamic_data_pipeline_spark import get_spark

spark = get_spark(input_bytes=10 << 30)
rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
conf = {
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
    "split": spark.conf.get("spark.sql.files.maxPartitionBytes"),
    "ansi": spark.conf.get("spark.sql.ansi.enabled"),
    "heap_mb": rt.maxMemory() >> 20,
}
spark = get_spark(extra_conf={"spark.sql.shuffle.partitions": "9"})
conf["extra_shuffle"] = spark.conf.get("spark.sql.shuffle.partitions")
print("CONF " + json.dumps(conf))
spark.stop()
"""


def test_launch_conf_wins_over_defaults_and_auto_posture():
    # PYSPARK_SUBMIT_ARGS (like spark-submit --conf) is the deployment's
    # override: 10 GB of input would auto-size 320 partitions and a
    # multi-GB heap, and neither may replace what the launch set.
    env = {
        **os.environ,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.sql.shuffle.partitions=7 --driver-memory 1g "
            "pyspark-shell"
        ),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _LAUNCH_CHILD, str(REPO)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("CONF "))
    conf = json.loads(line[len("CONF "):])
    assert conf["shuffle"] == "7"
    assert conf["heap_mb"] <= 1024
    # keys the launch leaves unset keep the auto-posture and defaults
    assert conf["split"] == str(auto_max_partition_bytes(10 << 30))
    assert conf["ansi"] == "false"
    # an explicit extra_conf still beats the launch conf
    assert conf["extra_shuffle"] == "9"


_MASTER_CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from ominimo_dynamic_data_pipeline_spark import get_spark

spark = get_spark()
print("MASTER " + spark.sparkContext.master)
spark.stop()
"""


def _launch_master(submit_args: str | None) -> str:
    env = {**os.environ, "SPARK_GRAFT_CPUS": "3"}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args is not None:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    proc = subprocess.run(
        [sys.executable, "-c", _MASTER_CHILD, str(REPO)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("MASTER "))
    return line[len("MASTER "):]


def test_launch_master_wins_over_spark_graft_cpus():
    # a deployment's --master is kept; SPARK_GRAFT_CPUS only sizes the
    # local harness when the launch names no master (the launcher then
    # reports its default local[*])
    assert _launch_master("--master local[2] pyspark-shell") == "local[2]"
    assert _launch_master(None) == "local[3]"
