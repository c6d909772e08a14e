from __future__ import annotations

import json
import random

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (19, 50.0), (39, 50.0), (40, 75.0), (50, 80.0), (99, 80.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct > 50.0:
        assert round(n * (100.0 - pct) / 100.0, 6) >= 10.0


def test_percentile_matches_numpy():
    rng = random.Random(3)
    for n in (1, 2, 7, 100):
        xs = [rng.random() for _ in range(n)]
        for pct in (0.0, 25.0, 50.0, 90.0, 100.0):
            assert stats.percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))


def test_result_line_has_the_fixed_schema():
    line = stats.result_line(12, 0, {"setup_s": (1.5, "s"), "peak_rss_mb": (100, "MiB")})
    d = json.loads(line)
    assert list(d) == ["correct", "attempted", "failed", "metrics"]
    assert d["correct"] is True and d["attempted"] == 12 and d["failed"] == 0
    assert d["metrics"] == {
        "setup_s": {"value": 1.5, "unit": "s"},
        "peak_rss_mb": {"value": 100.0, "unit": "MiB"},
    }
    assert json.loads(stats.result_line(3, 1, {}))["correct"] is False


@pytest.mark.parametrize("attempted, value", [(0, 1.0), (1, float("nan")), (1, "1")])
def test_result_line_rejects_bad_values(attempted, value):
    with pytest.raises(ValueError):
        stats.result_line(attempted, 0, {"m": (value, "s")})
