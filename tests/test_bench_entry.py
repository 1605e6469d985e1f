"""bench.py survives a failing entry: the error is recorded, the entry
stays out of the timings, and the run goes on."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_raising_entry_is_recorded_and_dropped():
    timings, errors = {"q1": 1.5}, {}

    def boom():
        raise ValueError("bad input\nsecond line")

    assert bench.run_entry("q1", boom, timings, errors) is None
    assert errors == {"q1": "ValueError: bad input"}
    assert timings == {}
    assert bench.run_entry("q2", lambda: None, timings, errors) == timings["q2"] >= 0
    assert list(errors) == ["q1"]
