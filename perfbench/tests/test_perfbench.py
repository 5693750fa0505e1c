"""Tests of the benchmark harness itself: generator, hashing, spans,
event-log parsing and the contract between run.py and BENCHMARK.json.

Run on their own (``python3 -m pytest perfbench/tests -q``): the
event-log test starts its own SparkSession.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

import bench
import gen
import run
import tracing
import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
DOCUMENTS = os.path.join(bench.SF_DIR, "documents.parquet")


def _texts():
    if not os.path.exists(DOCUMENTS):
        pytest.skip(f"{DOCUMENTS} not present")
    return gen.load_texts(DOCUMENTS)


def _land(out, seed, texts, pool=(), first_review=200):
    return gen.write_pages(
        str(out), seed, 8, gen.load_fixture_records(ROOT), texts,
        first_review=first_review, prefix="c", refetch_pool=list(pool),
        refetch_share=0.2, corrupt_every=4,
    )


def _read(files):
    return [open(f, "rb").read() for f in files]


def test_generator_is_deterministic_per_seed(tmp_path):
    texts = _texts()
    a = _land(tmp_path / "a", 7, texts)
    b = _land(tmp_path / "b", 7, texts)
    c = _land(tmp_path / "c", 8, texts)
    assert _read(a.files) == _read(b.files)
    assert _read(a.files) != _read(c.files)
    gen.write_source_table(str(tmp_path / "s1"), 7, 1000, texts)
    gen.write_source_table(str(tmp_path / "s2"), 7, 1000, texts)
    for f in sorted(os.listdir(tmp_path / "s1")):
        assert (tmp_path / "s1" / f).read_bytes() == (tmp_path / "s2" / f).read_bytes()


def test_generator_keeps_the_fixture_shape(tmp_path):
    texts = _texts()
    first = _land(tmp_path / "first", 1, texts)
    second = _land(tmp_path / "second", 2, texts, pool=first.reviews, first_review=1000)
    assert first.corrupt_pages == second.corrupt_pages == 2
    parsed = []
    for f in second.files:
        try:
            parsed.extend(json.load(open(f))["result"])
        except json.JSONDecodeError:
            continue
    assert len(parsed) == len(second.reviews) == 6 * gen.PAGE_SIZE
    ids = [r["review_id"] for r in parsed]
    assert len(ids) == len(set(ids)), "a review is re-fetched at most once per landing"
    old = {r["review_id"] for r in first.reviews}
    refetched = [r for r in parsed if r["review_id"] in old]
    assert refetched and all(r in first.reviews for r in refetched)
    fresh = [r for r in parsed if r["review_id"] not in old]
    assert any("hotelier_response_date" not in r for r in fresh)
    assert any("hotelier_response_date" in r for r in fresh)
    assert any(r["cons"] == "" for r in fresh)
    assert all(isinstance(r["author"], dict) for r in fresh)
    assert {r["hotel_id"] for r in fresh} != {fresh[0]["hotel_id"]}


def test_result_hash_ignores_row_order_and_date_vs_midnight():
    cols = ["b", "a"]
    rows = [(dt.date(2024, 1, 2), 1), (None, -0.0)]
    same = [(0.0, None), (1, dt.datetime(2024, 1, 2))]
    assert workloads.result_hash(cols, rows) == workloads.result_hash(["a", "b"], same)
    assert workloads.result_hash(cols, rows) != workloads.result_hash(cols, rows[:1])


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_spans_nest_and_self_time_excludes_children():
    sc = _FakeContext()
    tr = tracing.Tracer(sc)
    with tr.span("outer", "a") as outer_idx:
        assert sc.props[tracing.SPAN_PROPERTY] == "outer/a"
        with tr.span("inner", "b"):
            assert sc.props[tracing.SPAN_PROPERTY] == "inner/b"
        assert sc.props[tracing.SPAN_PROPERTY] == "outer/a"

        def callback():  # on another thread, so it names its parent
            with tr.span("inner", "cb", parent=outer_idx):
                pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert sc.props[tracing.SPAN_PROPERTY] is None
    tr.close()
    with tr.span("outer", "after-close"):
        pass
    outer, inner, cb = tr.spans
    assert inner.parent == 0 and outer.parent is None and cb.parent == 0
    self_s = tr.self_seconds()
    assert self_s["outer"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start) - (cb.end - cb.start), abs=1e-9
    )
    assert tracing._union_length([(0, 2), (1, 3), (5, 6)], 0.5, 10) == pytest.approx(3.5)


def test_event_log_parser_on_a_tiny_session(tmp_path, monkeypatch):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a fresh session to turn the event log on")
    monkeypatch.setenv("PYTHONPATH", ROOT)
    from az_datapipeline_sentiment_analysis_spark.functions.text import sentiment_pandas_udf
    from az_datapipeline_sentiment_analysis_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark("perfbench-test", extra_conf={
        **tracing.event_log_conf(str(log_dir)), "spark.ui.showConsoleProgress": "false",
    })
    tr = tracing.Tracer(spark.sparkContext)
    try:
        with tr.span("shuffle_layer", "group"):
            spark.range(1000).repartition(3).groupBy((F.col("id") % 7).alias("k")).count().collect()
        with tr.span("udf_layer", "outer"):
            with tr.span("udf_layer", "score"):
                spark.range(100).select(
                    sentiment_pandas_udf(F.lit("good fast")).alias("s")
                ).collect()
        spark.range(10).count()  # outside any span
    finally:
        spark.stop()
    parsed = tracing.parse_event_log(tracing.find_event_log(str(log_dir)), tr.spans)
    group = parsed["spans"]["shuffle_layer/group"]
    assert group["jobs"] >= 1 and group["tasks"] >= 3
    assert group["shuffle_write_bytes"] > 0 and group["shuffle_read_bytes"] > 0
    assert group["executor_run_ms"] > 0 and group["driver_residual_ms"] >= 0
    assert parsed["spans"]["udf_layer/score"]["jobs"] >= 1
    assert parsed["spans"]["udf_layer/outer"]["jobs"] == 0
    assert parsed["python"]["udf_layer/score"]["number of output rows"] == 100
    assert "shuffle_layer/group" not in parsed["python"]
    assert parsed["spans"]["none"]["jobs"] >= 1
    layers = tracing.by_layer(parsed["spans"])
    assert layers["udf_layer"]["jobs"] == parsed["spans"]["udf_layer/score"]["jobs"]


def test_cpu_seconds_counts_this_process():
    before = tracing.cpu_seconds()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert tracing.cpu_seconds() - before >= 0.2


def test_passes_are_whole_groups_of_operations():
    ops = [run.Op(seconds=s, cpu_s=2 * s, rss_mb=s, steal_s=0.0) for s in (1.0, 2.0, 3.0, 4.0, 5.0)]
    passes = run._passes(ops, 2)
    assert [p.seconds for p in passes] == [3.0, 7.0]
    assert [p.cpu_s for p in passes] == [6.0, 14.0]
    assert [p.rss_mb for p in passes] == [1.5, 3.5]
    assert run._passes(ops, 1) == ops


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "e2e_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
