"""Incremental pipeline: idempotence + crash-recovery (SURVEY §5.2 #4).

The reference's known flaw: two separate commits (results insert at
``FunctionApp2/process_data/__init__.py:96``, flag update at ``:104``)
duplicate work on a crash between them. These tests assert our merge
semantics absorb exactly that failure.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from az_datapipeline_sentiment_analysis_spark.streaming import incremental


@pytest.fixture()
def source_df(spark):
    rows = [
        (1, "fast clean nice room", 0),
        (2, "slow dirty cold hallway", 0),
        (3, "average stay nothing special", 0),
        (4, "already done", 1),
    ]
    return spark.createDataFrame(rows, "id long, text_column string, processed int")


def _counts(spark, results_path):
    df = spark.read.parquet(results_path)
    return df.count(), df.select("record_id").distinct().count()


def test_increment_scores_only_unprocessed(spark, source_df, tmp_path):
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    incremental.init_source(spark, source_df, src)
    n = incremental.run_increment(spark, src, res)
    assert n == 3  # id=4 already processed
    out = {r.record_id: r for r in spark.read.parquet(res).collect()}
    assert set(out) == {"1", "2", "3"}  # reference's str(id) cast
    assert out["1"].sentiment == "positive"
    assert out["2"].sentiment == "negative"
    # all flags flipped
    flags = spark.read.parquet(src).select("processed").collect()
    assert all(r.processed == 1 for r in flags)


def test_rerun_is_noop(spark, source_df, tmp_path):
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    incremental.init_source(spark, source_df, src)
    assert incremental.run_increment(spark, src, res) == 3
    assert incremental.run_increment(spark, src, res) == 0  # S8 short-circuit
    assert _counts(spark, res) == (3, 3)


def test_crash_between_writes_recovers_without_dupes(spark, source_df, tmp_path):
    """Simulate the reference's failure window: results written, flags
    NOT flipped (crash between the two commits). Re-running must not
    duplicate results — the anti-join merge absorbs the replay."""
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    incremental.init_source(spark, source_df, src)

    source = spark.read.parquet(src)
    results = incremental.score_unprocessed(source)
    assert incremental.merge_results(spark, results, res) == 3
    # crash here: mark_processed never ran; all rows still processed=0

    n_retry = incremental.run_increment(spark, src, res)
    assert n_retry == 0  # everything already merged
    assert _counts(spark, res) == (3, 3)  # no dupes
    flags = spark.read.parquet(src).filter(F.col("id") <= 3)
    assert all(r.processed == 1 for r in flags.collect())  # now converged


def test_new_rows_after_convergence(spark, source_df, tmp_path):
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    incremental.init_source(spark, source_df, src)
    incremental.run_increment(spark, src, res)

    extra = spark.createDataFrame(
        [(5, "great fresh quick service", 0)],
        "id long, text_column string, processed int",
    )
    merged = spark.read.parquet(src).unionByName(extra)
    incremental.init_source(spark, merged, src)
    assert incremental.run_increment(spark, src, res) == 1
    assert _counts(spark, res) == (4, 4)


def test_concurrent_writer_raises_and_lock_released(spark, source_df, tmp_path):
    """Contended path of the single-writer guard: while one writer holds
    the mkdir lock, a second overwrite of the same path must raise
    ConcurrentWriterError (not interleave renames) — and a failed writer
    must release the lock so later writers proceed."""
    src = str(tmp_path / "src")
    lock = f"{src}__writelock"
    os.mkdir(lock)  # first writer holds the swap lock
    try:
        with pytest.raises(incremental.ConcurrentWriterError):
            incremental.init_source(spark, source_df, src)
        assert not os.path.exists(src)  # blocked writer left no target
    finally:
        os.rmdir(lock)

    # lock released -> the write goes through cleanly
    incremental.init_source(spark, source_df, src)
    assert spark.read.parquet(src).count() == 4
    assert not os.path.exists(lock)  # happy path releases the lock too


def _results(spark, rows):
    return spark.createDataFrame(
        rows, "record_id string, sentiment string, confidence double"
    )


def _stages(tmp_path):
    return [p for p in os.listdir(tmp_path) if "__stage_" in p]


def test_merge_of_existing_ids_is_noop_and_adds_no_files(spark, tmp_path):
    res = str(tmp_path / "res")
    batch = _results(spark, [("1", "positive", 1.0), ("2", "negative", 0.0)])
    assert incremental.merge_results(spark, batch, res) == 2
    before = sorted(os.listdir(res))
    assert incremental.merge_results(spark, batch.limit(1), res) == 0
    assert sorted(os.listdir(res)) == before
    assert _stages(tmp_path) == []


def test_merge_returns_rows_landed(spark, tmp_path):
    res = str(tmp_path / "res")
    incremental.merge_results(
        spark, _results(spark, [("1", "positive", 1.0), ("2", "mixed", 0.5)]), res
    )
    batch = _results(
        spark,
        [("2", "mixed", 0.5), ("3", "neutral", 0.5), ("4", "negative", 0.0)],
    )
    n = incremental.merge_results(spark, batch, res)
    assert n == spark.read.parquet(res).count() - 2 == 2
    assert _counts(spark, res) == (4, 4)


def test_merge_rerun_after_partial_move_converges(spark, tmp_path, monkeypatch):
    """A crash while the staged part- files move into the results table:
    some rows landed, the rest went with the discarded stage. The same
    merge re-run lands exactly the missing rows."""
    res = str(tmp_path / "res")
    rows = [(str(i), "neutral", 0.5) for i in range(8)]
    batch = _results(spark, rows).repartition(2)  # two part- files
    real_replace = os.replace
    moved = []

    def crash_after_first(src, dst):
        if moved:
            raise OSError("crash mid-move")
        moved.append(dst)
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_after_first)
        with pytest.raises(OSError, match="crash mid-move"):
            incremental.merge_results(spark, batch, res)
    assert _stages(tmp_path) == []
    landed = spark.read.parquet(res).count()
    assert 0 < landed < len(rows)

    assert incremental.merge_results(spark, batch, res) == len(rows) - landed
    assert _counts(spark, res) == (len(rows), len(rows))


def test_failed_write_leaves_no_stage_and_releases_lock(spark, source_df, tmp_path):
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    incremental.init_source(spark, source_df, src)
    boom = F.when(F.col("id") == 3, F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        incremental.init_source(
            spark,
            source_df.withColumn("text_column", boom.otherwise(F.col("text_column"))),
            src,
        )
    scored = incremental.score_unprocessed(source_df)
    with pytest.raises(Exception, match="boom"):
        incremental.merge_results(
            spark,
            scored.withColumn(
                "sentiment",
                F.when(F.col("record_id") == "3", F.raise_error(F.lit("boom")))
                .otherwise(F.col("sentiment")),
            ),
            res,
        )
    assert _stages(tmp_path) == []
    assert not os.path.exists(f"{src}__writelock")
    assert not os.path.exists(res)
    assert spark.read.parquet(src).count() == 4  # the old table is intact


def _multi_file_source(spark, path, n_files, pending_per_file):
    """A SourceTable landed as ``n_files`` appends, each file holding one
    processed row and ``pending_per_file`` unprocessed ones."""
    for f in range(n_files):
        rows = [(f * 100, "already done", 1)] + [
            (f * 100 + i + 1, "nice clean room", 0) for i in range(pending_per_file)
        ]
        spark.createDataFrame(
            rows, "id long, text_column string, processed int"
        ).coalesce(1).write.mode("append").parquet(path)
    n_scan = spark.read.parquet(path).rdd.getNumPartitions()
    assert n_scan > 1  # small files the reader does not pack together
    return n_scan


def _part_files(path):
    return [f for f in os.listdir(path) if f.startswith("part-")]


def test_small_delta_is_scored_in_one_partition(spark, tmp_path):
    """A fresh results table gets one part- file per scoring partition."""
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    _multi_file_source(spark, src, n_files=4, pending_per_file=1)
    assert incremental.run_increment(spark, src, res) == 4
    assert len(_part_files(res)) == 1


def test_large_delta_keeps_scan_partitions(spark, tmp_path):
    """A delta of many Arrow batches (a backfill, emulated with tiny
    batches) keeps the scan's parallelism: coalesce never adds
    partitions."""
    src, res = str(tmp_path / "src"), str(tmp_path / "res")
    n_scan = _multi_file_source(spark, src, n_files=4, pending_per_file=5)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        assert incremental.run_increment(spark, src, res) == 20
    finally:
        spark.conf.set(conf, old)
    assert len(_part_files(res)) == n_scan


def test_scd2_merge_successive_batches(spark):
    """scd2_merge must compose: applying batch 2 to batch 1's output
    keeps closed history verbatim, preserves surviving rows'
    valid_from, and closes/reopens only the re-updated keys."""
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, seg string"
    )
    upd1 = spark.createDataFrame([(2, "b2"), (4, "d")], "id long, seg string")
    v1 = incremental.scd2_merge(
        dim, upd1, key_col="id", effective_date="2024-06-01",
        initial_date="2024-01-01",
    )
    rows1 = {(r.id, r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
             for r in v1.collect()}
    assert rows1 == {
        (1, "a", "2024-01-01 00:00:00", "None", True),
        (3, "c", "2024-01-01 00:00:00", "None", True),
        (2, "b", "2024-01-01 00:00:00", "2024-06-01 00:00:00", False),
        (2, "b2", "2024-06-01 00:00:00", "None", True),
        (4, "d", "2024-06-01 00:00:00", "None", True),
    }

    # batch 2 re-updates key 2 and touches key 1 for the first time
    upd2 = spark.createDataFrame([(2, "b3"), (1, "a2")], "id long, seg string")
    v2 = incremental.scd2_merge(
        v1, upd2, key_col="id", effective_date="2024-09-01",
        initial_date="IGNORED",  # must not be used on SCD input
    )
    rows2 = {(r.id, r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
             for r in v2.collect()}
    assert rows2 == {
        # closed history from batch 1 passes through verbatim
        (2, "b", "2024-01-01 00:00:00", "2024-06-01 00:00:00", False),
        # untouched current keeps ITS OWN valid_from (4 opened in batch 1)
        (3, "c", "2024-01-01 00:00:00", "None", True),
        (4, "d", "2024-06-01 00:00:00", "None", True),
        # re-updated keys: old current closed at batch-2 date
        (1, "a", "2024-01-01 00:00:00", "2024-09-01 00:00:00", False),
        (2, "b2", "2024-06-01 00:00:00", "2024-09-01 00:00:00", False),
        (1, "a2", "2024-09-01 00:00:00", "None", True),
        (2, "b3", "2024-09-01 00:00:00", "None", True),
    }
    # exactly one current version per live key
    cur = v2.filter(F.col("is_current")).groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in cur)
