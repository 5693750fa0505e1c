"""bench.py's timing loop, shared by the headline suite, the scale pass,
the reference probe and ``tools/time_entries.py``."""

from __future__ import annotations

import bench
from conftest import SF_SMOKE


def test_best_of_times_q1(spark):
    seconds, rows = bench._best_of(spark, "q1_pricing_summary", SF_SMOKE, 1)
    assert seconds > 0
    assert rows > 0
