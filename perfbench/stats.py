"""Pure helpers: medians, the tail-percentile rule, run-to-run spread,
span self-time and the size-checked result record. No Spark imports."""

from __future__ import annotations

import json
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
# the final stdout line, kept short so a reader of the output's tail gets it whole
RECORD_LIMIT_BYTES = 1536


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = 10) -> tuple[float, float, int] | None:
    """Highest percentile that still has ``beyond`` samples above it.

    With n sorted samples that is the sample at 1-based rank n - beyond,
    i.e. percentile 100 * (n - beyond) / n. Returns (percentile, value,
    n) or None when there are not more than ``beyond`` samples."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return 100.0 * (n - beyond) / n, float(s[n - beyond - 1]), n


def quantiles(xs) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), as Python's default
    'exclusive' ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(xs) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quantiles(xs)
    return (q3 - q1) / med


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children.

    Children may overlap each other (concurrent writes); the covered part
    is the union of their intervals clipped to the parent."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], [])
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def record(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The one-line JSON result. Raises ValueError on a malformed metric
    name, a non-finite value, or a line over RECORD_LIMIT_BYTES."""
    body = {}
    for name, (value, unit) in metrics.items():
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        value = float(value)
        if value != value or value in (float("inf"), float("-inf")):
            raise ValueError(f"metric {name} is not finite: {value}")
        body[name] = {"value": value, "unit": unit}
    line = json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": body,
        },
        separators=(",", ":"),
    )
    if len(line.encode()) > RECORD_LIMIT_BYTES:
        raise ValueError(f"record is {len(line.encode())} bytes")
    return line
