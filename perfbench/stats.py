"""Summary statistics and the fixed result schema of one run."""

from __future__ import annotations

import json
import math

# Percentiles a tail may be reported at, highest first.
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it; the median when there are too few samples for any."""
    for pct in _TAIL_LADDER:
        if round(n * (100.0 - pct) / 100.0, 6) >= 10.0:
            return pct
    return 50.0


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of ``values``' tail by ``tail_percentile``."""
    pct = tail_percentile(len(values))
    return pct, percentile(values, pct)


def result_line(
    attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The run's last stdout line: exactly ``correct``, ``attempted``,
    ``failed`` and ``metrics`` (name -> {value, unit})."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one op")
    for name, (value, _unit) in metrics.items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(value), "unit": unit}
                for name, (value, unit) in metrics.items()
            },
        }
    )
