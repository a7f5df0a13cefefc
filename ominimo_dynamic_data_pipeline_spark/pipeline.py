"""Dataflow compile + run.

Lifecycle (SURVEY.md §3 "Our lifecycle"):

  metadata -> validated config -> COMPILE (pure: sources + transformation
  chain -> dict[str, DataFrame] of lazy plans, zero Spark actions) ->
  RUN (execute deferred stats, optional debug counts, write sinks).

This fixes the reference's eager ``compute_stats`` firing jobs
mid-interpretation (``/root/reference/src/transformations.py:342-373``) and
its debug ``count()+show()`` on the hot path (``main.py:131-145``), which
are gated behind ``verbose`` here.

One run is one snapshot.  ``current_timestamp`` / ``current_date`` resolve
to one literal per compile (unless a ``clock`` is injected), so every sink
carries the same ``ingestion_dt``, and each source is scanned once.

The run phase executes only the actions that cannot ride another action:

* every sink write; sinks sharing an output path or table form ONE action
  and are written in declaration order;
* a stats request's dedicated aggregate job, unless its numbers ride a
  sink write as ``Observation`` metrics: ``mode: observe`` field stats,
  and the OK/KO validation stats of a validate step whose OK and KO
  outputs are both sink inputs (counts plus one per-label error sum on
  the KO write, replacing two count jobs and the explode/groupBy job).

A frame that more than one action reads is cached once, in compile
order, before any action starts.  A validate step's OK and KO outputs
count as reads of the step's input (both are filters over it), so the
motor dataflow caches exactly one frame, its validate input, and the
exact field-stats job reads the same cache.  The actions are then
submitted together from one thread pool as wide as the number of
actions; each thread target is wrapped in ``inheritable_thread_target``,
so the caller's job group and tags reach every job.

The compile owns the intermediates its kernels persist
(``session.persist_intermediate``, e.g. a dedup step's shingle frame):
they are recorded on ``CompileContext.persisted``, and the run releases
them with its own caches.  A compile that raises releases what it had
persisted before re-raising.

Failure contract: the run waits for every submitted action, unpersists
its caches and the frames its compile persisted, then re-raises the
first failing action's error (in submission order).  No Spark job of the
run is left running.  Sinks that finished keep their output (writes are
not staged), and no stats sidecar is written.
"""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial
from typing import Any, Callable, Mapping, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession

from ominimo_dynamic_data_pipeline_spark.functions.registry import frozen_clock
from ominimo_dynamic_data_pipeline_spark.io import (
    read_sources,
    sink_groups,
    sink_paths,
    write_sink,
)
from ominimo_dynamic_data_pipeline_spark.operators.registry import (
    CompileContext,
    StatsRequest,
    ValidateOutputs,
    apply_transformations,
)
from ominimo_dynamic_data_pipeline_spark.operators.stats import (
    compute_field_stats,
    compute_validation_stats,
    observe_field_stats,
    observe_validation_stats,
    write_stats_sidecar,
)
from ominimo_dynamic_data_pipeline_spark.session import recording_persists


@dataclass
class CompiledDataflow:
    dataflow: Mapping[str, Any]
    ctx: CompileContext

    @property
    def frames(self) -> dict[str, DataFrame]:
        return self.ctx.frames


@dataclass
class RunResult:
    frames: dict[str, DataFrame]
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def compile_dataflow(
    spark: SparkSession,
    dataflow: Mapping[str, Any],
    input_path_override: str | list[str] | None = None,
    clock: Column | None = None,
    strict: bool = True,
) -> CompiledDataflow:
    """Pure compile: read sources (lazy), build the transformation DAG.

    ``input_path_override`` replaces the FIRST source's path (reference CLI
    contract, ``main.py:111-117``) but without mutating the metadata — the
    binding is explicit and the metadata document stays immutable.
    ``clock`` defaults to the compile instant as one literal, shared by
    every action of the run.
    """
    flow: dict[str, Any] = dict(dataflow)
    if input_path_override is not None and flow.get("sources"):
        sources = [dict(s) for s in flow["sources"]]
        sources[0]["path"] = input_path_override
        flow["sources"] = sources

    if clock is None:
        clock = frozen_clock()
    ctx = CompileContext(spark=spark, clock=clock, strict=strict)
    for name, df in read_sources(spark, flow).items():
        ctx.put(name, df)
    try:
        with recording_persists(ctx.persisted):
            apply_transformations(ctx, flow)
    except BaseException:
        _unpersist(ctx.persisted)
        raise
    return CompiledDataflow(dataflow=flow, ctx=ctx)


def _unpersist(frames: Sequence[DataFrame]) -> None:
    for df in frames:
        df.unpersist()


def _foldable_validation(
    ctx: CompileContext, req: StatsRequest, written: set[str]
) -> ValidateOutputs | None:
    """The validate step whose OK and KO outputs are ``req``'s ok/ko
    inputs, when both are written by a sink — its validation stats can
    then ride those two writes."""
    ok_step = ctx.validated.get(req.ok_input)
    ko_step = ctx.validated.get(req.ko_input)
    if ok_step is None or ko_step is None:
        return None
    if not {req.ok_input, req.ko_input} <= written:
        return None
    if ctx.frames[req.ok_input] is not ok_step.ok:
        return None
    if ctx.frames[req.ko_input] is not ko_step.ko:
        return None
    return ko_step


def _shared_frames(ctx: CompileContext, reads: Sequence[str]) -> list[DataFrame]:
    """Frames read by more than one action, in compile order.  A validate
    output's read counts against the validate step's input frame."""

    def source(name: str) -> DataFrame:
        df = ctx.frames[name]
        step = ctx.validated.get(name)
        if step is not None and (df is step.ok or df is step.ko):
            return step.upstream
        return df

    uses = Counter(id(source(name)) for name in reads)
    in_order = [*ctx.frames.values(), *(s.upstream for s in ctx.validated.values())]
    shared: dict[int, DataFrame] = {}
    for df in in_order:
        if uses[id(df)] > 1:
            shared.setdefault(id(df), df)
    return list(shared.values())


def _run_together(spark: SparkSession, actions: Sequence[Callable[[], Any]]) -> list:
    """Submit every action at once, wait for all of them, then return
    their results or raise the first error (in submission order)."""
    if not actions:
        return []
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        # one wrapper per action: each copies the caller's local
        # properties (job group, tags) into its own thread
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn)) for fn in actions
        ]
    return [f.result() for f in futures]


def _write_group(group: Sequence[Mapping[str, Any]], frames: Mapping[str, DataFrame]) -> None:
    for sink in group:
        write_sink(frames[sink["input"]], sink)


def run_dataflow(
    compiled: CompiledDataflow,
    write: bool = True,
    verbose: bool = False,
    stats_clock: Callable[[], datetime] = datetime.now,
) -> RunResult:
    """Execute the deferred actions of a compiled dataflow (see the
    module docstring for which actions run and the failure contract)."""
    try:
        return _run(compiled, write, verbose, stats_clock)
    finally:
        _unpersist(compiled.ctx.persisted)


def _run(
    compiled: CompiledDataflow,
    write: bool,
    verbose: bool,
    stats_clock: Callable[[], datetime],
) -> RunResult:
    ctx = compiled.ctx
    result = RunResult(frames=ctx.frames)
    sinks = list(compiled.dataflow.get("sinks", []) or [])
    written = {s["input"] for s in sinks} if write else set()
    missing = written - ctx.frames.keys()
    if missing:
        raise KeyError(f"Sink input frame not found: {sorted(missing)[0]!r}")
    # what each sink writes: stats riding a write swap in an observed twin
    write_frames = dict(ctx.frames)

    actions: list[Callable[[], Any]] = []
    reads: list[str] = []  # frame name of every read by an action
    outcomes: list[Any] = []

    def action(fn: Callable[[], Any], *names: str) -> Callable[[], Any]:
        slot = len(actions)
        actions.append(fn)
        reads.extend(names)
        return lambda: outcomes[slot]

    docs = []
    for req in ctx.deferred_stats:
        name = req.input_name
        if req.mode == "observe" and name in written:
            write_frames[name], fields_doc = observe_field_stats(
                write_frames[name], req.fields
            )
        else:
            # observe-mode requests always report HLL distinct counts;
            # keep the fallback consistent with the observed path
            approx = req.approx or req.mode == "observe"
            fields_doc = action(
                partial(compute_field_stats, ctx.get(name), req.fields, approx),
                name,
            )
        validation_doc = None
        ok, ko = req.ok_input, req.ko_input
        if req.include_validation_stats and ok in ctx.frames and ko in ctx.frames:
            step = _foldable_validation(ctx, req, written)
            if step is not None:
                write_frames[ok], write_frames[ko], validation_doc = (
                    observe_validation_stats(
                        write_frames[ok], write_frames[ko], step.labels
                    )
                )
            else:
                validation_doc = action(
                    partial(compute_validation_stats, ctx.frames[ok], ctx.frames[ko]),
                    ok,
                    ko,
                )
        docs.append((req, fields_doc, validation_doc))

    if write:
        for group in sink_groups(sinks):
            action(
                partial(_write_group, group, write_frames),
                *(s["input"] for s in group for _ in sink_paths(s)),
            )

    shown = [s["input"] for s in sinks if s["input"] in ctx.frames] if verbose else []
    # each shown frame is read twice (count + show)
    shared = _shared_frames(ctx, reads + shown * 2)
    for df in shared:
        df.cache()
    try:
        for name in shown:
            result.counts[name] = ctx.frames[name].count()
            ctx.frames[name].show(truncate=False)
        outcomes.extend(_run_together(ctx.spark, actions))
    finally:
        _unpersist(shared)

    for req, fields_doc, validation_doc in docs:
        doc = fields_doc()
        if validation_doc is not None:
            doc["validation_stats"] = validation_doc()
        write_stats_sidecar(doc, req.stats_name, req.output_path, stats_clock)
        doc["stats_name"] = req.stats_name
        result.stats[req.stats_name] = doc
    return result


def run_pipeline(
    spark: SparkSession,
    metadata: Mapping[str, Any],
    dataflow_name: str | None = None,
    input_path: str | list[str] | None = None,
    clock: Column | None = None,
    write: bool = True,
    verbose: bool = False,
) -> RunResult:
    """End-to-end convenience wrapper: select -> compile -> run."""
    from ominimo_dynamic_data_pipeline_spark.config import select_dataflow

    flow = select_dataflow(metadata, dataflow_name)
    compiled = compile_dataflow(spark, flow, input_path, clock=clock)
    return run_dataflow(compiled, write=write, verbose=verbose)
