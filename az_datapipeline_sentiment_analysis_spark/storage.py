"""Physical-layout helpers: bucketed and partitioned tables.

The two levers that remove work *before* a query runs, both essential
at 100 TB and both invisible at small scale:

* **Bucketing** (``bucketBy`` on the join/agg key): two tables bucketed
  the same way join with NO shuffle on either side — the Exchange
  disappears from the plan (asserted in tests/test_storage.py). This is
  how a fact-fact join (orders ⋈ lineitem) avoids shuffling 100 TB —
  the shuffle is paid once at write time, amortized over every later
  query.
* **Partitioning** (``partitionBy`` on a low-cardinality scan
  predicate, e.g. event day): partition pruning turns a full scan into
  reading only matching directories — ``PartitionFilters`` in the scan
  node, file listing proportional to the predicate's selectivity.

Guidance encoded here: bucket count should be sized so one bucket of
the LARGER table fits an executor core's working set (128-256 MB
post-compression is the usual target); partition columns must be
low-cardinality (day, not timestamp; country, not user_id) or the
file-count explosion costs more than pruning saves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .session import conf_scope

# INT96 (the legacy default) carries NO min/max statistics, which
# silently disables every timestamp skip the clustered layouts exist for
_STATS_TIMESTAMPS = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


def write_bucketed(
    df: DataFrame,
    table_name: str,
    *,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed managed table (parquet).

    Sorting within buckets (``sortBy``) additionally enables
    sort-merge-join without the per-query Sort when both sides are
    sorted on the key.

    A stale warehouse directory from a previous process (whose catalog
    entry died with that session's in-memory metastore) blocks
    ``saveAsTable`` even in overwrite mode, so both the catalog entry
    and the leftover location are cleared first.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def write_partitioned(
    df: DataFrame, path: str, *, partition_cols: list[str]
) -> None:
    """Persist ``df`` as a directory-partitioned parquet dataset."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_sorted(
    df: DataFrame, path: str, sort_col: str, *, n_files: int | None = None
) -> None:
    """Range-partition then sort-within-partitions on ``sort_col`` so
    every output file (and row group) covers a DISJOINT value range.

    This is the clustering layout for data skipping: parquet footers
    record per-row-group min/max, so a range predicate on ``sort_col``
    skips whole files without reading them — the single biggest scan
    lever after partition pruning for high-cardinality columns (ts,
    ids) that are too fine-grained to directory-partition on.
    ``repartitionByRange`` samples the column to build balanced range
    bounds; the sort is per-partition (no global sort barrier).
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    with conf_scope(df.sparkSession, _STATS_TIMESTAMPS):
        (
            df.repartitionByRange(n, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .parquet(path)
        )


def write_zorder(
    df: DataFrame,
    path: str,
    c1: str,
    c2: str,
    *,
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Z-order (Morton-curve) clustering on TWO columns so range
    predicates on EITHER column skip files via parquet min/max stats.

    A single-column sort (``write_sorted``) gives perfect skipping on
    the sort key and none on anything else; interleaving the bits of
    two order-preserving bucket ids makes each output file cover a
    small rectangle of the (c1, c2) space, so both columns keep
    locality — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER,
    implemented here with stock Spark: ``width_bucket`` for the
    order-preserving bucketing (min/max are two driver-side scalars),
    a JVM ``aggregate`` lambda for the bit interleave, then
    ``repartitionByRange`` + ``sortWithinPartitions`` on the z-value
    (no global sort barrier). Timestamp columns are bucketed on their
    epoch value; INT96 is disabled for the write so the stats exist.
    """
    from pyspark.sql import functions as F

    def _num(col: str) -> str:
        # order-preserving numeric view (timestamps -> epoch seconds)
        return f"cast({col} as double)"

    r = df.agg(
        F.expr(f"min({_num(c1)})"), F.expr(f"max({_num(c1)})"),
        F.expr(f"min({_num(c2)})"), F.expr(f"max({_num(c2)})"),
    ).first()
    lo1, hi1, lo2, hi2 = (float(x) for x in r)
    n = 1 << bits
    # width_bucket returns 1..n+1 (n+1 for v == hi); clamp into 0..n-1
    b1 = (
        f"least(cast(width_bucket({_num(c1)}, {lo1!r}, {hi1!r}, {n}) - 1"
        f" as bigint), {n - 1})"
    )
    b2 = (
        f"least(cast(width_bucket({_num(c2)}, {lo2!r}, {hi2!r}, {n}) - 1"
        f" as bigint), {n - 1})"
    )
    z = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc"
        f" + shiftleft(({b1} >> i) & 1, 2 * i)"
        f" + shiftleft(({b2} >> i) & 1, 2 * i + 1))"
    )
    with conf_scope(df.sparkSession, _STATS_TIMESTAMPS):
        (
            df.withColumn("__z", F.expr(z))
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(path)
        )


def zorder_skippable_files(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(matching_files, total_files) from parquet footer min/max for a
    range predicate ``lo <= col <= hi`` — measures layout skipping
    without running Spark (what the reader's row-group filter will do)."""
    import datetime

    import pyarrow.parquet as pq

    def _norm(v):
        # parquet TIMESTAMP stats decode tz-aware (isAdjustedToUTC) or
        # naive depending on writer flags; compare everything in UTC
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            return v.replace(tzinfo=datetime.timezone.utc)
        return v

    lo, hi = _norm(lo), _norm(hi)
    total = match = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(os.path.join(root, f))
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[col]
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    fmin = None
                    break
                smin, smax = _norm(st.min), _norm(st.max)
                fmin = smin if fmin is None else min(fmin, smin)
                fmax = smax if fmax is None else max(fmax, smax)
            if fmin is None or (fmax >= lo and fmin <= hi):
                match += 1
    return match, total


def compact(
    spark,
    src: str,
    dst: str,
    *,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-files compaction: rewrite ``src`` into ceil(total/target)
    parquet files at ``dst``; returns the output file count.

    The classic maintenance job for streaming/incremental sinks, whose
    per-micro-batch commits strand thousands of tiny files — at scale,
    scan cost is dominated by file-open overhead once files are much
    smaller than ``target_file_bytes`` (default 128 MB, the usual HDFS/
    object-store sweet spot). One distributed read + round-robin
    repartition + write; no driver-side data movement.
    """
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dst)
    return n_files


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange.

    BroadcastExchange is NOT a shuffle (it ships one small side to all
    executors); only hash/range repartitioning moves the big data.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or (
        "Exchange rangepartitioning" in plan
    )


def formatted_plan(df: DataFrame) -> str:
    """Formatted physical plan text (grep for PartitionFilters /
    PushedFilters / Exchange in tests)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
