"""The metric names a run prints are exactly those BENCHMARK.json lists."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

from perfbench import layers
from perfbench.run import Run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _op(wall: float) -> dict:
    return {**{k: 1.0 for k in layers._SUMMED}, "op": "a", "ok": True,
            "wall": wall, "microbatch_s": [0.5, 0.7]}


def _passes() -> list[dict]:
    return [
        {"traced": True, "wall": 3.0, "cpu": 9.0, "ops": [_op(3.0)]},
        {"traced": False, "wall": 1.0, "cpu": 3.0, "ops": [_op(1.0)]},
        {"traced": True, "wall": 1.1, "cpu": 3.3, "ops": [_op(1.1)]},
    ]


def test_end_to_end_names_and_units():
    run = SimpleNamespace(passes=_passes(), setup_s=2.0, live_heap_mb=500.0)
    emitted = {k: unit for k, (_, unit) in Run.end_to_end(run).items()}
    assert emitted == _declared("end_to_end")


def test_per_layer_names_and_units():
    run = SimpleNamespace(
        passes=_passes(), session_s=1.0, peak_rss_mb=900.0, stage_s=1.0, staged_bytes=10,
        tracer=SimpleNamespace(cores=4, spans=[]),
    )
    emitted = {k: unit for k, (_, unit) in layers.per_layer(run).items()}
    assert emitted == _declared("per_layer")
