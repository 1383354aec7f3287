"""Summary statistics and the result line."""

from __future__ import annotations

import json
import math
import statistics
from fractions import Fraction

# the tail percentile reported is the highest of these with at least
# ten samples beyond it
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # exact decimal arithmetic: 99.9 / 100 * 10_000 is 9990, not 9990.000000000002
    return max(1, math.ceil(Fraction(str(p)) / 100 * n))


def tail_percentile(n: int) -> float | None:
    """Highest of ``PERCENTILES`` with at least ten of ``n`` samples
    beyond its nearest rank; ``None`` when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    metrics: dict[str, tuple[float, str]],
    names: list[str],
) -> str:
    """The benchmark's last stdout line: every name in ``names`` with
    its value and unit. A missing name is an error, not an omission."""
    missing = [n for n in names if n not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                n: {"value": float(metrics[n][0]), "unit": metrics[n][1]} for n in names
            },
        }
    )
