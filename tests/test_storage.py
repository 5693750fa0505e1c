"""Physical-layout tests: the plan-level proof that bucketing removes
the join shuffle and directory partitioning prunes the scan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from az_datapipeline_sentiment_analysis_spark import storage
from az_datapipeline_sentiment_analysis_spark.catalog import table

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # drop catalog entries AND any orphaned warehouse dirs from a
    # previous session (DROP TABLE is a no-op for tables this session's
    # catalog never saw, but saveAsTable still collides on the path)
    import shutil

    def clean():
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            shutil.rmtree(f"{loc}/{t}", ignore_errors=True)

    clean()
    yield
    clean()


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    o = table(spark, SF_SMOKE, "orders")
    li = table(spark, SF_SMOKE, "lineitem")
    storage.write_bucketed(
        o, "b_orders", bucket_col="o_orderkey", n_buckets=4,
        sort_col="o_orderkey",
    )
    storage.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", bucket_col="o_orderkey", n_buckets=4,
        sort_col="o_orderkey",
    )
    # force the fact-fact (sort-merge) path: at real scale neither side
    # broadcasts, which is exactly when bucketing pays off
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey"
        )
        # co-located buckets: the equi-join plans with ZERO shuffle
        assert not storage.plan_has_shuffle(joined)
        # and it still computes the right thing
        want = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unbucketed_join_does_shuffle(spark):
    o = table(spark, SF_SMOKE, "orders")
    li = table(spark, SF_SMOKE, "lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        assert storage.plan_has_shuffle(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_reduces_file_count_losslessly(spark, tmp_path):
    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    frag = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    ev.repartition(16).write.parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    storage.compact(spark, frag, dst, target_file_bytes=128 << 20)
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_after < n_before
    got = spark.read.parquet(dst)
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).first()[0] == ev.select(
        F.sum("event_id")
    ).first()[0]


def test_write_sorted_gives_disjoint_file_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key, None)
    ev = table(spark, SF_SMOKE, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "sorted_events")
    storage.write_sorted(ev, path, "ts", n_files=6)
    # the writer's INT96 override must not leak into later writes
    assert spark.conf.get(key, None) == before
    storage.write_zorder(
        ev, str(tmp_path / "zorder_events"), "event_id", "ts", n_files=4
    )
    assert spark.conf.get(key, None) == before

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ci = names.index("ts")
        stats = [
            md.row_group(rg).column(ci).statistics
            for rg in range(md.num_row_groups)
        ]
        # TIMESTAMP_MICROS (not INT96) so min/max stats exist at all
        assert all(s is not None for s in stats)
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) > 1
    # each file covers a disjoint ts range -> range predicates skip
    # whole files from footer stats alone
    assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))
    # and the layout is lossless
    assert spark.read.parquet(path).count() == ev.count()


def test_partitioned_write_prunes_scan(spark, tmp_path):
    ev = table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    path = str(tmp_path / "events_by_day")
    storage.write_partitioned(ev, path, partition_cols=["day"])

    days = [r.day for r in spark.read.parquet(path).select("day").distinct().collect()]
    target = sorted(days)[0]
    pruned = spark.read.parquet(path).filter(F.col("day") == F.lit(target))
    plan = storage.formatted_plan(pruned)
    assert "PartitionFilters" in plan and "day" in plan
    # count matches the ORIGINAL (unpartitioned) table filtered in memory
    expected = ev.filter(F.col("day") == F.lit(target)).count()
    assert pruned.count() == expected > 0
    # and the pruned scan actually READS strictly fewer files than the
    # full dataset (input_file_name() reflects post-pruning file reads;
    # inputFiles() would report the relation's full pre-pruning listing)
    n_days = len(days)
    assert n_days > 1
    read_files = pruned.select(F.input_file_name()).distinct().count()
    all_files = len(spark.read.parquet(path).inputFiles())
    assert 0 < read_files < all_files
