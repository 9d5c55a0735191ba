"""Small, dependency-free helpers: percentiles, span self time, and the
result-line reader. Kept free of Spark so the benchmark's own tests run
without a JVM."""

from __future__ import annotations

import json
import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: strictly beyond it.
MIN_BEYOND = 10


class NotEnoughSamples(ValueError):
    """Raised instead of reporting a tail that too few samples support."""


def percentile(values, q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q <= 1) of ``values``.

    For a tail (q > 0.5) at least ``MIN_BEYOND`` samples must lie
    strictly beyond the reported rank; otherwise ``NotEnoughSamples``
    is raised, never a number that a handful of samples would set.
    """
    xs = sorted(float(v) for v in values)
    n = len(xs)
    if not 0 < q <= 1:
        raise ValueError(f"quantile {q} outside (0, 1]")
    if n == 0:
        raise NotEnoughSamples("no samples")
    rank = max(1, math.ceil(q * n))  # 1-based
    if q > 0.5 and n - rank < MIN_BEYOND:
        raise NotEnoughSamples(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; "
            f"{n} samples leave {n - rank}"
        )
    return xs[rank - 1]


def tail_or_none(values, q: float) -> float | None:
    try:
        return percentile(values, q)
    except NotEnoughSamples:
        return None


def mix_mean_of_medians(samples: dict[str, list[float]]) -> float:
    """Mean cost of one operation of a fixed mix, each kind's cost taken
    as the median of its samples: sum(n_k * median_k) / sum(n_k).

    The median per kind keeps a burst of JIT compilation or garbage
    collection that lands in one operation from setting the figure,
    without letting the median fall on a boundary between kinds of
    different cost, as one median over the whole mix would."""
    total = sum(len(xs) for xs in samples.values())
    if total == 0:
        raise NotEnoughSamples("no samples")
    return sum(len(xs) * statistics.median(xs) for xs in samples.values() if xs) / total


# -- spans ---------------------------------------------------------------


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    end = -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None:
            continue
        lo = max(s["start"], parent["start"])
        hi = min(s["end"], parent["end"])
        if hi > lo:
            children.setdefault(parent["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - covered_length(children.get(s["id"], []))
        for s in spans
    }


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total duration and total self time."""
    own = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += own[s["id"]]
    return out


# -- result lines ----------------------------------------------------------

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _number(value, where: str) -> float:
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise ValueError(f"{where}: {value!r} is not a number")
    if not math.isfinite(value):
        raise ValueError(f"{where}: {value!r} is not finite")
    return float(value)


def validate_result(obj, expected_metrics=None) -> dict:
    """Check a result object and return it; raise ``ValueError`` on any
    missing key, wrong type or non-numeric value."""
    if not isinstance(obj, dict) or set(obj) != RESULT_KEYS:
        keys = sorted(obj) if isinstance(obj, dict) else type(obj).__name__
        raise ValueError(f"result keys {keys} != {sorted(RESULT_KEYS)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError(f"correct: {obj['correct']!r} is not a bool")
    for key in ("attempted", "failed"):
        if isinstance(obj[key], bool) or not isinstance(obj[key], int):
            raise ValueError(f"{key}: {obj[key]!r} is not a whole number")
    if obj["attempted"] < 1 or not 0 <= obj["failed"] <= obj["attempted"]:
        raise ValueError(f"attempted={obj['attempted']} failed={obj['failed']}")
    metrics = obj["metrics"]
    if not isinstance(metrics, dict) or not metrics:
        raise ValueError("metrics: missing or empty")
    for name, entry in metrics.items():
        if not isinstance(entry, dict) or set(entry) != {"value", "unit"}:
            raise ValueError(f"metric {name}: {entry!r} is not {{value, unit}}")
        _number(entry["value"], f"metric {name}")
        if not isinstance(entry["unit"], str) or not entry["unit"]:
            raise ValueError(f"metric {name}: unit {entry['unit']!r}")
    if expected_metrics is not None:
        missing = set(expected_metrics) - set(metrics)
        extra = set(metrics) - set(expected_metrics)
        if missing or extra:
            raise ValueError(
                f"metrics missing {sorted(missing)}, unexpected {sorted(extra)}"
            )
    return obj


def read_result(text: str, expected_metrics=None) -> dict:
    """Parse the last non-empty line of a benchmark's stdout."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    try:
        obj = json.loads(lines[-1])
    except json.JSONDecodeError as exc:
        raise ValueError(f"last line is not JSON: {lines[-1][:120]!r}") from exc
    return validate_result(obj, expected_metrics)
