"""Pure aggregation logic of the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import statistics
from typing import Iterable, Mapping, Sequence


def median_of(samples: Sequence[float]) -> dict[str, float | int]:
    """A timing as the benchmark reports it: median and sample count."""
    if not samples:
        raise ValueError("no samples")
    return {"median": statistics.median(samples), "n": len(samples)}


def per_query_sum(samples: Mapping[str, Sequence[float]]) -> dict[str, float | int]:
    """Catalog pass time: the sum over queries of each query's median
    repeat time.  The sample count is the total number of repeats."""
    if not samples or any(not s for s in samples.values()):
        raise ValueError("every query needs at least one sample")
    return {
        "median": sum(statistics.median(s) for s in samples.values()),
        "n": sum(len(s) for s in samples.values()),
    }


def merge_samples(
    parts: Iterable[Mapping[str, Sequence[float]]],
) -> dict[str, list[float]]:
    """Concatenate per-key sample lists gathered by several processes."""
    out: dict[str, list[float]] = {}
    for part in parts:
        for key, values in part.items():
            out.setdefault(key, []).extend(values)
    return out


def error_rate(attempted: int, failed: int) -> float:
    """Operations that raised or returned wrong output, per operation
    attempted."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, cursor), min(hi, s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def parse_size(text: str) -> float:
    """Bytes from a Spark size-metric string, e.g. ``"1544.0 B"`` or the
    ``"total (min, med, max ...)\\n3.2 MiB (...)"`` form."""
    units = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    line = text.strip().splitlines()[-1]
    value, unit = line.split()[:2]
    return float(value) * units[unit]


def parse_count(text: str) -> int:
    """Integer from a Spark sum-metric string such as ``"1,234"``."""
    return int(text.strip().replace(",", ""))
