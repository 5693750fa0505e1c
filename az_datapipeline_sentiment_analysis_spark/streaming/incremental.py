"""Idempotent incremental sentiment pipeline (batch path).

Reproduces — and fixes — the reference's EP2 core loop (reference
``FunctionApp2/process_data/__init__.py:38-104``):

    scan WHERE processed = 0  ->  score  ->  INSERT results
                              ->  UPDATE source SET processed = 1

The reference commits the two writes separately on two databases
(``:96`` and ``:104``); a crash between them re-scores rows and
duplicates inserts. Here the results write is an **idempotent merge**
(anti-join against existing ``record_id``s before appending), so the
whole increment is safely re-runnable: crash anywhere, run again, end
state is identical and duplicate-free. The flag flip is a set-at-a-time
semi-join rewrite (S16/S17), not a string-built ``IN (...)`` UPDATE.

Plain parquet stands in for the table layer (no Delta in this
environment); on a Delta/Iceberg deployment ``merge_results`` and
``mark_processed`` each become a single ``MERGE INTO`` with the same
join conditions. Both phases are set-at-a-time DataFrame jobs — they
scale with executors, vs the reference's row-at-a-time INSERT loop.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sentiment_pandas_udf
from ..schemas import SENTIMENT_RESULTS, SOURCE_TABLE


def init_source(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Materialize a SourceTable-shaped parquet dir.

    Stage-then-swap so ``df`` may itself read from ``path`` (a plain
    overwrite would delete its own input mid-job under lazy execution).
    """
    _atomic_overwrite(spark, df.select("id", "text_column", "processed"), path)


def score_unprocessed(source: DataFrame) -> DataFrame:
    """filter(processed=0) -> S9 projection -> S11 sentiment -> results.

    Matches the reference's output conventions exactly: id cast to
    string (``:50``), hardcoded language 'en' (``:51``), confidence =
    confidenceScores.positive only (``:93``).
    """
    docs = source.filter(F.col("processed") == 0).select(
        F.col("id").cast("string").alias("id"),
        F.lit("en").alias("language"),
        F.col("text_column").alias("text"),
    )
    scored = docs.withColumn("s", sentiment_pandas_udf(F.col("text")))
    return scored.select(
        F.col("id").alias("record_id"),
        F.col("s.sentiment").alias("sentiment"),
        F.col("s.confidenceScores.positive").alias("confidence"),
    )


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to swap the same table concurrently."""


def _atomic_overwrite(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Stage-then-swap overwrite: never leaves a half-written target.

    Local-FS stand-in for a transactional table commit; the staged dir
    is fully written (job-committed) before the swap.

    Single-writer contract, enforced: the swap is guarded by an atomic
    ``mkdir`` lock — a concurrent overwrite of the same path raises
    :class:`ConcurrentWriterError` instead of silently interleaving
    renames. (A real table format — Delta/Iceberg — replaces this with
    optimistic-concurrency commit protocol; readers are always safe
    because the final ``rename`` is atomic.)
    """
    lock = f"{path}__writelock"
    try:
        os.mkdir(lock)
    except FileExistsError:
        raise ConcurrentWriterError(
            f"another writer holds {lock}; concurrent overwrites of "
            f"{path} are not supported by the parquet stand-in"
        ) from None
    staged = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").parquet(staged)
        backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(path):
            os.rename(path, backup)
        os.rename(staged, path)
        if os.path.exists(backup):
            shutil.rmtree(backup, ignore_errors=True)
    finally:
        # a failed write leaves its partial stage behind; after the swap
        # the stage is gone and this is a no-op
        shutil.rmtree(staged, ignore_errors=True)
        os.rmdir(lock)


def merge_results(
    spark: SparkSession, new_results: DataFrame, results_path: str
) -> int:
    """Idempotent append: only record_ids not already present land.

    Equivalent to ``MERGE INTO results USING new ON record_id WHEN NOT
    MATCHED THEN INSERT``, run as one write job:

    1. the existing ``record_id``s that collide with the new ones — a
       semi-join that streams the results table past the (small) new
       ids, instead of building a hash table of the whole table;
    2. the new rows anti-joined against only those collisions;
    3. written to a staging directory and counted from the written
       files' parquet footers (no persist/count pass); the ``part-``
       files move into ``results_path`` only when the count is
       positive, so a merge that inserts nothing adds no files.

    The count is not a ``DataFrame.observe``: on Spark 4.1 a session
    that has used an ``Observation`` holds a non-serializable
    ``ObservationManager``, and later jobs whose closures capture the
    session (MLlib training) fail with ``Task not serializable``.

    Join strategies stay with Catalyst/AQE. A crash part-way through
    the move leaves some rows landed and the rest in the discarded
    stage; the next run's anti-join drops the landed ones, so re-running
    converges without duplicates. Does not deduplicate ids within
    ``new_results`` itself.

    Returns the number of rows that landed.
    """
    fresh = new_results
    if os.path.exists(results_path):
        existing = spark.read.schema(SENTIMENT_RESULTS).parquet(results_path)
        collisions = existing.select("record_id").join(
            new_results.select("record_id"), "record_id", "left_semi"
        )
        fresh = new_results.join(collisions, "record_id", "left_anti")
    staged = f"{results_path}__stage_{uuid.uuid4().hex[:8]}"
    try:
        fresh.write.parquet(staged)
        parts = [f for f in os.listdir(staged) if f.startswith("part-")]
        n = sum(
            pq.read_metadata(os.path.join(staged, f)).num_rows for f in parts
        )
        if n > 0:
            os.makedirs(results_path, exist_ok=True)
            for f in parts:
                os.replace(
                    os.path.join(staged, f), os.path.join(results_path, f)
                )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return n


def mark_processed(
    spark: SparkSession, source_path: str, done_ids: DataFrame
) -> None:
    """S16/S17 as a set-at-a-time rewrite: processed=1 where id in done.

    ``done_ids`` has a single ``record_id`` string column (results
    shape); the semi-join key cast mirrors the reference's str(id).

    No broadcast hint: the typical increment is small and AQE will
    broadcast it from its runtime size estimate, but a backfill's
    done-set is the whole table — a forced broadcast there would OOM
    at scale, so strategy selection stays with Catalyst/AQE.
    """
    src = spark.read.schema(SOURCE_TABLE).parquet(source_path)
    done = done_ids.select(
        F.col("record_id").cast("long").alias("id")
    ).distinct()
    updated = (
        src.join(done.withColumn("_done", F.lit(1)), "id", "left")
        .withColumn(
            "processed",
            F.when(F.col("_done").isNotNull(), 1).otherwise(F.col("processed")),
        )
        .drop("_done")
    )
    _atomic_overwrite(spark, updated, source_path)


def run_increment(
    spark: SparkSession, source_path: str, results_path: str
) -> int:
    """One EP2 increment: score unprocessed rows, merge, flip flags.

    Returns the number of NEWLY inserted result rows. Re-running after
    any partial failure converges to the same end state (idempotence is
    what the reference's dual-commit lacks).

    The scoring stage is sized by rows, not by the source's splits: the
    pending rows are counted (the same scan is the empty short-circuit)
    and coalesced to one partition per Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch``). A Python task
    has a fixed start-up cost whatever its row count, so a small delta
    in a many-file source runs one task instead of one per split, most
    of them empty. ``coalesce`` never raises the partition count, so a
    backfill keeps the scan's parallelism.
    """
    source = spark.read.schema(SOURCE_TABLE).parquet(source_path)
    pending = source.filter(F.col("processed") == 0)
    n_pending = pending.count()
    if n_pending == 0:
        return 0  # S8 empty-input short-circuit
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if batch > 0:  # <= 0 means unbounded batches: keep the scan's splits
        pending = pending.coalesce(-(-n_pending // batch))
    results = score_unprocessed(pending).persist()
    n_new = merge_results(spark, results, results_path)
    mark_processed(spark, source_path, results.select("record_id"))
    results.unpersist()
    return n_new


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    *,
    key_col: str,
    effective_date: str,
    initial_date: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge: apply ``updates`` to
    ``dim`` keeping full history — superseded rows are CLOSED
    (valid_to = effective date, is_current = false), update rows open a
    new current version, and unmatched dim rows pass through untouched.

    Complements :func:`merge_results` (Type 1: overwrite in place) with
    the audit-trail semantics a warehouse dimension needs. Set-at-a-
    time plan: one semi-join + one anti-join of the CURRENT dim slice
    against the update keys (same shuffle partitioning reused for both)
    and a union — no row-at-a-time driver logic; on Delta/Iceberg the
    same shape becomes MERGE WHEN MATCHED UPDATE SET valid_to ... plus
    an INSERT of the new versions.

    Composable across batches: if ``dim`` already carries the SCD
    columns (valid_from/valid_to/is_current — i.e. it is the output of
    a previous merge), historical (is_current = false) rows pass
    through verbatim and current rows KEEP their existing valid_from;
    ``initial_date`` only stamps a plain non-SCD snapshot. ``updates``
    must be a plain snapshot batch (any SCD columns it carries are
    ignored and restamped).
    """
    scd_cols = ("valid_from", "valid_to", "is_current")
    val_cols = [
        c for c in dim.columns if c != key_col and c not in scd_cols
    ]
    if all(c in dim.columns for c in scd_cols):
        base = dim.select(key_col, *val_cols, *scd_cols)
    else:
        base = dim.select(
            key_col,
            *val_cols,
            F.lit(initial_date).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    history = base.filter(~F.col("is_current"))
    current = base.filter(F.col("is_current"))
    keys = updates.select(key_col).distinct()
    untouched = current.join(keys, key_col, "left_anti")
    closed = (
        current.join(keys, key_col, "left_semi")
        .withColumn("valid_to", F.lit(effective_date).cast("timestamp"))
        .withColumn("is_current", F.lit(False))
    )
    opened = updates.select(
        key_col,
        *[
            c
            for c in updates.columns
            if c != key_col and c not in scd_cols
        ],
        F.lit(effective_date).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        history.unionByName(untouched)
        .unionByName(closed)
        .unionByName(opened)
    )
