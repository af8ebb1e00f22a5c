"""Summary statistics and the result line of the benchmark — pure Python,
no Spark, so the tests pin them without a session."""

from __future__ import annotations

import json
import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_TAIL_SAMPLES = 10


def tail_percentile(values: list[float], pct: int) -> float | None:
    """The ``pct``-th percentile, or None unless at least
    ``MIN_TAIL_SAMPLES`` samples lie beyond it — a tail read from fewer
    samples is one slow request, not a percentile."""
    n = len(values)
    if n < 2 or n * (100 - pct) / 100 < MIN_TAIL_SAMPLES:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def metric(value: float, unit: str) -> dict:
    if not math.isfinite(value):
        raise ValueError(f"non-finite metric value {value!r}")
    return {"value": value, "unit": unit}


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, dict]
) -> str:
    """The last stdout line: exactly correct/attempted/failed/metrics."""
    bad = [name for name in metrics if not METRIC_NAME.fullmatch(name)]
    if bad:
        raise ValueError(f"bad metric names {bad}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )
