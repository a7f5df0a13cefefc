"""Scalar function registry for the ``add_fields`` operator.

The reference supports exactly one function, ``current_timestamp``
(``/root/reference/src/transformations.py:280-291``), raising on anything
else.  We keep the raise-on-unknown contract but generalize the registry,
and make the clock injectable so golden tests are deterministic
(SURVEY.md §7 "What's hard" (3)).

Functions may take params from the field config:
  {"name": "ingestion_dt", "function": "current_timestamp"}
  {"name": "source_tag",   "function": "literal", "value": "batch-7"}
  {"name": "price_eur",    "function": "expr", "expr": "price * 0.92"}
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any, Callable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

# Builder takes the field config and an optional fixed-clock Column override.
FunctionBuilder = Callable[[Mapping[str, Any], Column | None], Column]

_REGISTRY: dict[str, FunctionBuilder] = {}


def register_function(name: str) -> Callable[[FunctionBuilder], FunctionBuilder]:
    def deco(fn: FunctionBuilder) -> FunctionBuilder:
        _REGISTRY[name] = fn
        return fn

    return deco


def frozen_clock() -> Column:
    """The current instant as a timestamp literal.  A dataflow compiles
    it once and hands it to every clock function, so all actions of one
    run (each sink write re-plans the frame) see the same time —
    ``F.current_timestamp()`` is resolved per query instead."""
    return F.lit(datetime.now(timezone.utc))


@register_function("current_timestamp")
def _current_timestamp(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return clock if clock is not None else F.current_timestamp()


@register_function("current_date")
def _current_date(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return clock.cast("date") if clock is not None else F.current_date()


@register_function("literal")
def _literal(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return F.lit(cfg.get("value"))


@register_function("uuid")
def _uuid(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return F.expr("uuid()")


@register_function("monotonically_increasing_id")
def _mono_id(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return F.monotonically_increasing_id()


@register_function("input_file_name")
def _input_file(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return F.input_file_name()


@register_function("expr")
def _expr(cfg: Mapping[str, Any], clock: Column | None) -> Column:
    return F.expr(cfg["expr"])


def build_function_column(
    cfg: Mapping[str, Any], clock: Column | None = None
) -> Column:
    """Resolve a field config to a Column; unknown function -> ValueError
    (same contract as the reference)."""
    func = cfg.get("function")
    builder = _REGISTRY.get(func)
    if builder is None:
        raise ValueError(
            f"Unsupported add_fields function: {func!r} for field {cfg.get('name')!r}"
        )
    return builder(cfg, clock)
