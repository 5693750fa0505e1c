"""Structured Streaming tests: windows, stateful dedup, foreachBatch.

Streams are driven with ``Trigger.AvailableNow`` over multi-file
parquet input dirs (``maxFilesPerTrigger=1`` forces multi-micro-batch
execution so stateful semantics are actually exercised), asserted
against the equivalent batch computation on the same rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from az_datapipeline_sentiment_analysis_spark import catalog
from az_datapipeline_sentiment_analysis_spark.streaming import incremental, stream

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """sf0.001 events as 3 CHRONOLOGICAL file slices -> 3 micro-batches.

    Slicing by time (not random repartition) simulates in-order
    arrival: no slice carries data older than the watermark advanced by
    a previous one, so append-mode emissions are deterministic. mtimes
    are staggered because the file source replays oldest-first.
    """
    import glob
    import os
    import time

    d = str(tmp_path_factory.mktemp("events_in"))
    ev = catalog.table(spark, SF, "events")
    q1, q2 = [
        r[0] for r in ev.selectExpr(
            "percentile(cast(ts as double), array(0.33, 0.66)) as p"
        ).selectExpr("explode(p)").collect()
    ]
    slices = [
        ev.filter(F.col("ts").cast("double") <= q1),
        ev.filter(
            (F.col("ts").cast("double") > q1) & (F.col("ts").cast("double") <= q2)
        ),
        ev.filter(F.col("ts").cast("double") > q2),
    ]
    now = time.time()
    seen: set[str] = set()
    for i, s in enumerate(slices):
        s.coalesce(1).write.mode("append").parquet(d)
        fresh = set(glob.glob(f"{d}/*.parquet")) - seen
        for f in fresh:
            os.utime(f, (now + i, now + i))
        seen |= fresh
    return d


def _run(df, spark, name, mode="append", checkpoint=None):
    q = stream.start_to_memory(df, name, mode=mode, checkpoint=checkpoint)
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_match_batch(spark, events_dir):
    ev = stream.stream_events(spark, events_dir)
    got = _run(
        stream.tumbling_counts(ev), spark, "t_tumbling", mode="append"
    ).collect()
    batch = (
        spark.read.schema(stream.EVENTS_SCHEMA)
        .parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    ).collect()
    # append mode only emits windows the watermark has closed; every
    # emitted row must exactly match its batch twin
    batch_map = {(r.w.start, r.event_type): (r.n_events, r.sum_value) for r in batch}
    assert len(got) > 0
    for r in got:
        key = (r.window_start, r.event_type)
        n, s = batch_map[key]
        assert r.n_events == n and abs(r.sum_value - s) < 1e-6


def test_session_counts_stream(spark, events_dir):
    ev = stream.stream_events(spark, events_dir)
    got = _run(stream.session_counts(ev), spark, "t_session")
    assert got.count() > 0
    assert got.filter(F.col("n_events") <= 0).count() == 0


def test_dedup_within_watermark(spark, events_dir, tmp_path):
    """Duplicate every event across two files; stateful dedup must
    restore exact-once per event_id even across micro-batches."""
    dup_dir = str(tmp_path / "dup_in")
    base = spark.read.schema(stream.EVENTS_SCHEMA).parquet(events_dir)
    base.coalesce(1).write.mode("overwrite").parquet(dup_dir)
    base.coalesce(1).write.mode("append").parquet(dup_dir)

    ev = stream.stream_events(spark, dup_dir)
    got = _run(stream.dedup_within_watermark(ev), spark, "t_dedup")
    n_unique = base.select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_foreach_batch_incremental_pipeline(spark, tmp_path):
    """EP2 as a stream: text rows arrive as files; foreachBatch runs the
    idempotent merge. End state == batch pipeline end state."""
    in_dir = str(tmp_path / "texts")
    res = str(tmp_path / "res")
    ckpt = str(tmp_path / "ckpt")

    rows = [(i, f"doc {w}", 0) for i, w in enumerate(["fast good", "slow bad", "plain"])]
    src = spark.createDataFrame(rows, "id long, text_column string, processed int")
    src.repartition(2).write.parquet(in_dir)

    texts = (
        spark.readStream.schema("id long, text_column string, processed int")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def sink(batch_df, batch_id):
        scored = incremental.score_unprocessed(batch_df)
        incremental.merge_results(spark, scored, res)

    q = stream.start_foreach_batch(texts, sink, checkpoint=ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(res)
    assert out.count() == 3
    assert out.select("record_id").distinct().count() == 3

    # restart the stream over the same checkpoint: nothing new lands
    q2 = stream.start_foreach_batch(texts, sink, checkpoint=ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(res).count() == 3


def test_stateful_running_totals(spark, events_dir):
    """applyInPandasWithState totals must converge to the batch agg."""
    src = stream.stream_events(spark, events_dir)
    q = stream.start_to_memory(
        stream.running_user_totals(src), "running_totals", mode="update"
    )
    q.awaitTermination(120)
    # update mode emits one row per user per micro-batch; the LAST
    # emission per user carries the converged running total
    got = (
        spark.table("running_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    want = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    g = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in got.collect()}
    w = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in want.collect()}
    assert g == w


def test_stream_stream_interval_join_across_batches(spark, events_dir):
    """Stream-stream interval join with per-side watermarks over THREE
    chronological micro-batches: a click buffered in batch 1 must still
    join a purchase arriving in batch 2/3 (join state retention), and
    with in-order slices nothing is dropped, so the emitted pairs equal
    the batch interval join exactly."""
    def side(event_type, id_alias, uid, ts):
        return (
            stream.stream_events(spark, events_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(uid),
                F.col("ts").alias(ts),
            )
            .withWatermark(ts, "24 hours")
        )

    joined = side("click", "click_id", "uid_a", "ts_a").join(
        side("purchase", "purchase_id", "uid_b", "ts_b"),
        F.expr(
            "uid_a = uid_b AND ts_b > ts_a"
            " AND ts_b <= ts_a + interval 120 minutes"
        ),
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in _run(joined, spark, "t_ssjoin").collect()
    }

    ev = spark.read.schema(stream.EVENTS_SCHEMA).parquet(events_dir)
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("ts_b"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in a.join(
            b,
            (F.col("u") == F.col("u2"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("interval 120 minutes")),
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_stream_ohlc_equals_batch_rollup(spark):
    """After the AvailableNow drain, the streaming OHLC bars must be
    row-identical to the batch ohlc_bars rollup — the deterministic
    argmin/argmax ordering key must survive incremental state folds
    across micro-batches."""
    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    stream_rows = {
        (r.window_start, r.event_type): (
            r.open, r.high, r.low, r.close, r.n_events
        )
        for r in REGISTRY["stream_ohlc_bars"].fn(spark, sf).collect()
    }
    batch_rows = {
        (r.bar_hour, r.event_type): (
            r.open, r.high, r.low, r.close, r.n_events
        )
        for r in REGISTRY["ohlc_bars"].fn(spark, sf).collect()
    }
    assert stream_rows == batch_rows


def test_stream_psi_drift_counts_and_total(spark):
    """The streaming PSI's drained bucket counts must equal the batch
    type counts, and psi_total must be the exact integer-unit sum of
    the per-bucket terms (the order-independence contract)."""
    from az_datapipeline_sentiment_analysis_spark.catalog import table
    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["stream_psi_drift"].fn(spark, sf).collect()
    ev = table(spark, sf, "events")
    n_view = ev.filter("event_type = 'view'").count()
    n_purchase = ev.filter("event_type = 'purchase'").count()
    assert sum(r.ref_n for r in rows) == n_view
    assert sum(r.cur_n for r in rows) == n_purchase
    total_units = sum(round(r.psi_term * 10000) for r in rows)
    for r in rows:
        assert r.psi_total == total_units / 10000.0
    assert rows and rows[0].psi_total >= 0.0


def test_stream_stream_left_join_watermark_gated_nulls(spark):
    """The left-outer stream-stream join must (a) emit every inner
    pair, (b) emit null-purchase rows ONLY for clicks whose 2h match
    window fell behind the final watermark (min of both sides' max
    event time - 24h), and (c) hold back every other unmatched click —
    the eviction rule the oracle reproduces literally."""
    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["stream_stream_left_join"].fn(spark, sf).toPandas()
    inner = got[got["purchase_id"].notna()]
    outer = got[got["purchase_id"].isna()]
    assert len(inner) > 0 and len(outer) > 0

    from az_datapipeline_sentiment_analysis_spark.catalog import table as _ct

    ev = _ct(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("ts_b"),
        F.col("user_id").alias("u2"),
    )
    pairs = a.join(
        b,
        (F.col("u") == F.col("u2"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("interval 120 minutes")),
    )
    want_inner = {
        (r.click_id, r.purchase_id) for r in pairs.collect()
    }
    assert {
        (int(r.click_id), int(r.purchase_id)) for _, r in inner.iterrows()
    } == want_inner

    # the watermark eviction rule, in Spark's own ms-truncated units
    mx = ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.unix_millis("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.unix_millis("ts"))).alias("mp"),
    ).collect()[0]
    wm_ms = min(mx.mc, mx.mp) - 24 * 3600 * 1000
    matched_ids = {c for c, _ in want_inner}
    evictable = {
        r.click_id
        for r in a.collect()
        if r.click_id not in matched_ids
        and int(r.ts_a.timestamp() * 1000) + 7200000 < wm_ms
    }
    assert {int(r.click_id) for _, r in outer.iterrows()} == evictable
