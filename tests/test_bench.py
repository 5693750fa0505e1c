"""bench.py's timing loop, shared by the headline suite, the scale pass,
the reference probe and ``tools/time_entries.py``."""

from __future__ import annotations

import json

import bench
from conftest import SF_SMOKE


def test_best_of_times_q1(spark):
    seconds, rows = bench._best_of(spark, "q1_pricing_summary", SF_SMOKE, 1)
    assert seconds > 0
    assert rows > 0


def test_absolute_bands_only_against_same_host_size(tmp_path, monkeypatch):
    """Absolute-seconds bands skip a newer reference from a host with a
    different CPU count; ratio bands still use the newest reference."""

    def write(round_no, cpus, seconds, ratio):
        ref = {
            "sf": 0.1,
            "host": {"cpus": cpus},
            "queries": {"q": seconds},
            "query_ratios": {"q": ratio},
        }
        (tmp_path / f"BENCH_local_r{round_no:02d}.json").write_text(json.dumps(ref))

    write(11, cpus=4, seconds=2.0, ratio=1.0)
    write(12, cpus=32, seconds=0.5, ratio=4.0)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    now = {
        "sf": 0.1,
        "host": {"cpus": 4},
        "queries": {"q": 3.0},
        "query_ratios": {"q": 3.0},
    }
    # 3.0 s is 6x the 32-core r12 but 1.5x the 4-core r11: no outlier;
    # the ratio 3.0 is 0.75x r12's
    assert bench._bands(now, 13) == {"band_outliers": {}, "ratio_band_outliers": {}}
    now["queries"]["q"] = 6.0
    now["query_ratios"]["q"] = 11.0
    assert bench._bands(now, 13) == {
        "band_outliers": {"q": [6.0, 2.0]},
        "ratio_band_outliers": {"q": [11.0, 4.0]},
    }
    # no reference of this host's size: no absolute band at all
    now["host"]["cpus"] = 8
    assert bench._bands(now, 13) == {"ratio_band_outliers": {"q": [11.0, 4.0]}}
