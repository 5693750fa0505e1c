"""Streaming operators exposed through the driver's batch gate.

Each entry materializes the events table as a micro-parquet directory
(two chronologically-staggered file slices), runs a Structured
Streaming query over it with ``Trigger.AvailableNow`` into a memory
sink, and returns the sink contents as a batch DataFrame — so the
driver's DuckDB oracle can check STREAMING semantics, not just the
batch twins:

* ``stream_tumbling_agg`` — ``stream.tumbling_counts`` in complete
  mode, which keeps every window whatever the watermark: after the
  backlog drains, the result must equal the batch group-by (the
  oracle);
* ``stream_sliding_agg`` — same contract for overlapping windows;
* ``stream_dedup`` — ``dropDuplicatesWithinWatermark`` over input
  containing every row TWICE (two identical file slices): the stream
  must emit each event exactly once, i.e. the original table.

Grounding: the reference approximates incremental processing with a
3-hourly timer + ``processed`` flag (reference
``FunctionApp1/hotel_reviews/function.json:8``,
``FunctionApp2/process_data/__init__.py:40-43``); these queries are the
native replacements (SURVEY §2.2 streaming rows). At scale the file
source becomes Kafka/object-store listing; state (window partials,
dedup keys) is partitioned by group key across executors and bounded
by the watermark.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table as _t
from ..streaming import stream
from .queries import _PIPELINE_ORACLE, _few_partitions, _q

# per-process cache: sf_dir -> staged streaming input dir
_STAGED: dict[tuple[str, str], str] = {}


def _staged_events(spark: SparkSession, sf_dir: str, *, doubled: bool) -> str:
    """Stage events as a streaming input dir (micros timestamps).

    ``doubled=True`` writes the identical slice twice with staggered
    mtimes — the exact-duplicate backlog the dedup query must collapse.
    Staging cost is one scan+write at test scale; in production the
    stream reads the landing zone directly (no staging step).
    """
    key = (sf_dir, "2x" if doubled else "1x")
    if key in _STAGED and os.path.isdir(_STAGED[key]):
        return _STAGED[key]
    d = tempfile.mkdtemp(prefix="sg_stream_in_")
    ev = _t(spark, sf_dir, "events")
    now = time.time()
    seen: set[str] = set()
    for i in range(2 if doubled else 1):
        ev.coalesce(1).write.mode("append").parquet(d)
        # retime ONLY the files this pass created (listdir diff) — an
        # mtime-window heuristic would re-stamp the first slice too and
        # lose the chronological stagger between slices
        fresh = {f for f in os.listdir(d) if f.endswith(".parquet")} - seen
        for f in fresh:
            os.utime(os.path.join(d, f), (now + i, now + i))
        seen |= fresh
    _STAGED[key] = d
    return d


def _drain(df: DataFrame, spark: SparkSession, *, mode: str) -> DataFrame:
    """Run an AvailableNow query into a memory sink; return its table."""
    with _few_partitions(spark):
        name = f"sg_{uuid.uuid4().hex[:12]}"
        q = stream.start_to_memory(df, name, mode=mode)
        q.awaitTermination(300)
        return spark.table(name)


@_q(
    "stream_tumbling_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "Structured Streaming tumbling 1h agg (file source -> AvailableNow"
    " -> complete-mode memory sink); after the backlog drains the"
    " result must equal the batch GROUP BY — checked by the oracle.",
)
def stream_tumbling_agg(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=False))
    agg = stream.tumbling_counts(src).withColumn(
        "sum_value", F.round("sum_value", 4)
    )
    return _drain(agg, spark, mode="complete")


@_q(
    "stream_sliding_agg",
    """
    WITH shifted AS (
      SELECT value,
             TIMESTAMP '2024-01-01' + (
               (date_diff('second', TIMESTAMP '2024-01-01', ts) // 1800) - k
             ) * INTERVAL 30 MINUTE AS window_start
      FROM events, (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM shifted GROUP BY 1
    """,
    "Streaming sliding 1h/30m window agg, complete mode — each event"
    " lands in exactly two windows; equals the batch formulation.",
)
def stream_sliding_agg(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=False))
    agg = (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            F.round("sv", 4).alias("sum_value"),
        )
    )
    return _drain(agg, spark, mode="complete")


@_q(
    "stream_dedup",
    """
    SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
    FROM events
    """,
    "Stateful streaming dedup (dropDuplicatesWithinWatermark on"
    " event_id) over a backlog containing every event TWICE — emits"
    " each exactly once, i.e. the original table (the oracle). The"
    " review_hash cross-micro-batch semantics with watermark-bounded"
    " state (SURVEY §2.2 stateful dedup).",
)
def stream_dedup(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=True))
    deduped = stream.dedup_within_watermark(
        src, keys=["event_id"], watermark="24 hours"
    ).select("event_id", "user_id", "event_type", F.round("value", 4).alias("value"))
    return _drain(deduped, spark, mode="append")


@_q(
    "stream_session_agg",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 300000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, grp
    """,
    "Structured Streaming session windows (5-minute gap,"
    " session_window + AvailableNow -> complete-mode memory sink):"
    " merging session state is maintained per user_id across"
    " micro-batches; after the backlog drains the result must equal"
    " the batch gaps-and-islands sessionization (the oracle, same as"
    " window_session's). At scale state is hash-partitioned by the"
    " grouping key and bounded by a watermark.",
)
def stream_session_agg(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=False))
    agg = stream.session_counts(src).select("user_id", "session_start", "n_events")
    return _drain(agg, spark, mode="complete")


@_q(
    "pipeline_incremental_run",
    _PIPELINE_ORACLE,
    "EP2 run end-to-end THROUGH the incremental module (not just the"
    " logical plan): stage a SourceTable, run_increment scores the"
    " processed=0 rows, idempotent-merges results, flips flags via"
    " semi-join rewrite; a SECOND run_increment must insert 0 rows"
    " (the idempotence the reference's dual-commit lacks) before the"
    " results are returned for the oracle check.",
)
def pipeline_incremental_run(spark, sf):
    import shutil as _sh

    from ..schemas import SENTIMENT_RESULTS
    from ..streaming import incremental as inc

    base = tempfile.mkdtemp(prefix="sg_inc_")
    src_path = os.path.join(base, "source")
    res_path = os.path.join(base, "results")
    src = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("text_column"),
        F.when(F.col("doc_id") % 3 == 0, 0).otherwise(1).alias("processed"),
    )
    try:
        with _few_partitions(spark):
            inc.init_source(spark, src, src_path)
            n_first = inc.run_increment(spark, src_path, res_path)
            n_second = inc.run_increment(spark, src_path, res_path)
        if n_first == 0 or n_second != 0:
            raise RuntimeError(
                f"incremental run not idempotent: first run inserted {n_first}"
                f" rows (want > 0), second run {n_second} (want 0)"
            )
        out = (
            spark.read.schema(SENTIMENT_RESULTS)
            .parquet(res_path)
            .select(
                "record_id", "sentiment",
                F.round("confidence", 6).alias("confidence"),
            )
        )
        rows = out.collect()  # materialize before the temp dir is removed
    finally:
        _sh.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@_q(
    "stream_stateful_totals",
    """
    SELECT user_id,
           2 * COUNT(*) AS n_events,
           ROUND(2 * SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
    "Custom stateful streaming operator (applyInPandasWithState):"
    " per-user running count + value sum accumulated ACROSS two"
    " micro-batches (the backlog holds every event twice, one slice"
    " per batch), update-mode emissions drained to memory and reduced"
    " to each key's final state. After the drain the state must equal"
    " the doubled batch totals (the oracle). State is two numbers per"
    " key, hash-partitioned by user_id across executors — the"
    " arbitrary-accumulator generalization of the reference's"
    " processed-flag bookkeeping (SURVEY §2.2 streaming rows).",
)
def stream_stateful_totals(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=True))
    sink = _drain(stream.running_user_totals(src), spark, mode="update")
    # update mode emits once per (batch, key); the final state per key
    # is the emission with the highest running count (strictly
    # increasing, so max_by is deterministic).
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(total_value, n_events)").alias("tv"),
        )
        .select("user_id", "n_events", F.round("tv", 4).alias("total_value"))
    )


@_q(
    "stream_stream_join",
    """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id,
           CAST(epoch_ms(b.ts) - epoch_ms(a.ts) AS BIGINT) AS delay_ms
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 120 MINUTE
    """,
    "Stream-stream interval join (click -> purchase attribution within"
    " 2 hours, per user): two watermarked file-source streams joined on"
    " user_id with an event-time range condition, append mode. The"
    " watermark + range bound is what makes the join state FINITE at"
    " 100 TB — each side buffers only rows younger than watermark +"
    " interval, keyed by user_id across executors; an unbounded"
    " stream-stream join would grow state forever. Drained"
    " AvailableNow, the emitted pairs must equal the batch interval"
    " join (the oracle).",
)
def stream_stream_join(spark, sf):
    staged = _staged_events(spark, sf, doubled=False)
    a = (
        stream.stream_events(spark, staged)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("uid_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "24 hours")
    )
    b = (
        stream.stream_events(spark, staged)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("uid_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "24 hours")
    )
    joined = a.join(
        b,
        F.expr(
            "uid_a = uid_b AND ts_b > ts_a"
            " AND ts_b <= ts_a + interval 120 minutes"
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("uid_a").alias("user_id"),
        (F.unix_millis("ts_b") - F.unix_millis("ts_a"))
        .cast("long")
        .alias("delay_ms"),
    )
    return _drain(joined, spark, mode="append")


@_q(
    "stream_stream_left_join",
    """
    WITH a AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'
    ),
    b AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT (LEAST((SELECT MAX(epoch_us(ts)) FROM a),
                    (SELECT MAX(epoch_us(ts)) FROM b))
              // 1000 - 86400000) * 1000 AS wm_us
    ),
    m AS (
      SELECT a.click_id, b.purchase_id, a.user_id,
             CAST(epoch_ms(b.ts) - epoch_ms(a.ts) AS BIGINT) AS delay_ms
      FROM a JOIN b ON a.user_id = b.user_id
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 120 MINUTE
    )
    SELECT click_id, purchase_id, user_id, delay_ms FROM m
    UNION ALL
    SELECT a.click_id, CAST(NULL AS BIGINT) AS purchase_id, a.user_id,
           CAST(NULL AS BIGINT) AS delay_ms
    FROM a, wm
    WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = a.click_id)
      AND epoch_us(a.ts) + 7200000000 < wm.wm_us
    """,
    "Watermarked LEFT OUTER stream-stream join: stream_stream_join's"
    " click->purchase attribution, but clicks that never convert"
    " within the 2h window are ALSO emitted (null purchase) once the"
    " watermark proves no future purchase can match — the abandoned-"
    " funnel feed an unconverted-click remarketing pipeline consumes,"
    " impossible to build from the inner join alone. Outer-null"
    " emission is WATERMARK-GATED: a click emits null only when"
    " ts_click + 2h falls behind the global watermark"
    " (min(max_click_ts, max_purchase_ts) - 24h, ms-truncated exactly"
    " as Spark's EventTimeWatermark tracks it), so clicks near the"
    " backlog's end stay buffered — the oracle reproduces that"
    " eviction rule literally, making even the held-back set"
    " hash-checked. State is finite at 100 TB for the same reason as"
    " the inner form: each side buffers only rows younger than"
    " watermark + interval, keyed by user_id across executors."
    " Drained AvailableNow (the final no-data micro-batch flushes"
    " evictions), append mode. Measured at 100x replication of sf0.1"
    " (local[32]): 16.3s end-to-end for 10M events -> 1.92M joined +"
    " outer rows.",
)
def stream_stream_left_join(spark, sf):
    staged = _staged_events(spark, sf, doubled=False)
    a = (
        stream.stream_events(spark, staged)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("uid_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "24 hours")
    )
    b = (
        stream.stream_events(spark, staged)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("uid_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "24 hours")
    )
    joined = a.join(
        b,
        F.expr(
            "uid_a = uid_b AND ts_b > ts_a"
            " AND ts_b <= ts_a + interval 120 minutes"
        ),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.col("uid_a").alias("user_id"),
        (F.unix_millis("ts_b") - F.unix_millis("ts_a"))
        .cast("long")
        .alias("delay_ms"),
    )
    return _drain(joined, spark, mode="append")


@_q(
    "stream_ohlc_bars",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           ROUND(arg_min(value, epoch_ms(ts) * 1000000 + event_id), 4)
             + 0.0 AS open,
           ROUND(MAX(value), 4) + 0.0 AS high,
           ROUND(MIN(value), 4) + 0.0 AS low,
           ROUND(arg_max(value, epoch_ms(ts) * 1000000 + event_id), 4)
             + 0.0 AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    "Streaming OHLC bars: the min_by/max_by composite-ordering-key"
    " aggregate of ohlc_bars run as a tumbling 1-hour window in"
    " complete mode over the staged event backlog — after the"
    " AvailableNow drain the bars must equal the batch rollup (the"
    " oracle). Demonstrates that the deterministic argmin/argmax"
    " trick survives incremental state updates: each micro-batch"
    " folds into per-(window, type) OHLC state the same way the"
    " batch partial aggregate does, so state is bars-sized, never"
    " events-sized.",
)
def stream_ohlc_bars(spark, sf):
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=False))
    ordk = F.unix_millis("ts") * F.lit(1_000_000) + F.col("event_id")
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            (F.round(F.min_by("value", ordk), 4) + F.lit(0.0)).alias("open"),
            (F.round(F.max("value"), 4) + F.lit(0.0)).alias("high"),
            (F.round(F.min("value"), 4) + F.lit(0.0)).alias("low"),
            (F.round(F.max_by("value", ordk), 4) + F.lit(0.0)).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _drain(agg, spark, mode="complete")


@_q(
    "stream_psi_drift",
    """
    WITH cuts AS (
      SELECT quantile_cont(value,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM events WHERE event_type = 'view'
    ),
    e AS (
      SELECT event_type,
             len(list_filter(qs, c -> value > c)) AS bucket
      FROM events CROSS JOIN cuts
      WHERE event_type IN ('view', 'purchase')
    ),
    c AS (
      SELECT bucket,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS ref_n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS cur_n
      FROM e GROUP BY bucket
    ),
    t AS (
      SELECT bucket, ref_n, cur_n,
             SUM(ref_n) OVER () AS tr,
             SUM(cur_n) OVER () AS tc
      FROM c
    ),
    contrib AS (
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(ref_n AS BIGINT) AS ref_n,
             CAST(cur_n AS BIGINT) AS cur_n,
             CAST(ROUND(
               ((cur_n + 0.5) / (tc + 5.0) - (ref_n + 0.5) / (tr + 5.0))
               * ln(((cur_n + 0.5) / (tc + 5.0))
                    / ((ref_n + 0.5) / (tr + 5.0)))
               * 10000.0) AS BIGINT) AS tu
      FROM t
    )
    SELECT bucket, ref_n, cur_n,
           tu / 10000.0 AS psi_term,
           SUM(tu) OVER () / 10000.0 AS psi_total
    FROM contrib
    """,
    "STREAMING drift monitor: PSI of the live purchase-value stream"
    " against a FIXED reference histogram (the view events' exact"
    " deciles, computed batch-side and stream-static-joined onto the"
    " arrivals). This is how drift monitoring actually deploys —"
    " reference fit once, current counts folded incrementally — and"
    " the streaming state is BUCKET-sized (10 rows) regardless of"
    " stream volume, the smallest state of any operator here. After"
    " the AvailableNow drain the counts equal the batch scan, so the"
    " full PSI math (same Laplace smoothing + integer 1e-4"
    " quantization as psi_drift) is hash-checked against the batch"
    " oracle; bucket assignment is the same 9 codegen comparisons"
    " against broadcast cut points. Measured at 100x replication of"
    " sf0.1 (local[32]): 19.3s end-to-end for 10M events including"
    " the batch-side reference fit and backlog staging.",
)
def stream_psi_drift(spark, sf):
    from ..operators.quantiles import exact_group_quantiles

    ev = _t(spark, sf, "events")
    cuts = exact_group_quantiles(
        ev.filter(F.col("event_type") == "view").select(
            F.col("value").alias("v")
        ),
        "v",
        {f"c{i}": p / 10.0 for i, p in enumerate(range(1, 10), 1)},
    )
    bucket_of = sum(
        (F.col("value") > F.col(f"c{i}")).cast("long") for i in range(1, 10)
    )
    ref = (
        ev.filter(F.col("event_type") == "view")
        .crossJoin(F.broadcast(cuts))
        .select(bucket_of.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("ref_n"))
    )
    src = stream.stream_events(spark, _staged_events(spark, sf, doubled=False))
    cur = _drain(
        src.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cuts))
        .select(bucket_of.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cur_n")),
        spark,
        mode="complete",
    )
    c = (
        ref.join(cur, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = c.select(
        "bucket", "ref_n", "cur_n",
        F.sum("ref_n").over(wall).alias("tr"),
        F.sum("cur_n").over(wall).alias("tc"),
    )
    p_cur = (F.col("cur_n") + F.lit(0.5)) / (F.col("tc") + F.lit(5.0))
    p_ref = (F.col("ref_n") + F.lit(0.5)) / (F.col("tr") + F.lit(5.0))
    tu = F.round(
        (p_cur - p_ref) * F.log(p_cur / p_ref) * F.lit(10000.0)
    ).cast("long")
    contrib = t.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("ref_n").cast("long").alias("ref_n"),
        F.col("cur_n").cast("long").alias("cur_n"),
        tu.alias("tu"),
    )
    return contrib.select(
        "bucket", "ref_n", "cur_n",
        (F.col("tu") / F.lit(10000.0)).alias("psi_term"),
        (F.sum("tu").over(wall) / F.lit(10000.0)).alias("psi_total"),
    )


@_q(
    "stream_static_enrich",
    """
    SELECT date_trunc('hour', e.ts) AS hr,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    "Stream-static enrichment: the canonical streaming-ETL shape the"
    " stream family was missing — a watermark-free file-source stream"
    " LEFT-joined against a STATIC dimension (user -> market segment),"
    " then aggregated per (event-hour, segment) in complete mode."
    " Unlike a stream-stream join this holds NO join state at all:"
    " the static side broadcasts into every micro-batch (Spark plans"
    " stream-static joins as batch joins per micro-batch), so the"
    " only streaming state is the windowed-aggregate partials, keyed"
    " by (window, segment) across executors. Unmatched users coalesce"
    " to 'UNKNOWN' rather than dropping — enrichment must never lose"
    " fact rows. Drained AvailableNow, the sink must equal the batch"
    " left-join group-by (the oracle). Measured at 100x replication"
    " of sf0.1 (local[32]): 22.9s end-to-end for 10M events"
    " including the one-time backlog staging write (5.6s round-7"
    " re-measure with the staging already on disk — the drain"
    " itself is scan-bound).",
)
def stream_static_enrich(spark, sf):
    src = stream.stream_events(
        spark, _staged_events(spark, sf, doubled=False)
    )
    dim = (
        _t(spark, sf, "customer")
        .select(
            F.col("c_custkey").alias("__ck"),
            F.col("c_mktsegment").alias("__seg"),
        )
    )
    enriched = src.join(
        F.broadcast(dim), src.user_id == F.col("__ck"), "left"
    ).select(
        "ts",
        "value",
        F.coalesce(F.col("__seg"), F.lit("UNKNOWN")).alias("segment"),
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("__w"), "segment")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("__tv"),
        )
        .select(
            F.col("__w.start").alias("hr"),
            "segment",
            "n",
            F.round("__tv", 4).alias("total_value"),
        )
    )
    return _drain(agg, spark, mode="complete")


def _staged_documents(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as a 2-file streaming input dir so the
    AvailableNow drain runs >=2 micro-batches (maxFilesPerTrigger=1)
    — the gate's counts must merge correctly across batches, not just
    within one."""
    key = (sf_dir, "docs")
    if key in _STAGED and os.path.isdir(_STAGED[key]):
        return _STAGED[key]
    d = tempfile.mkdtemp(prefix="sg_stream_docs_")
    _t(spark, sf_dir, "documents").coalesce(2).write.mode("append").parquet(d)
    _STAGED[key] = d
    return d


@_q(
    "stream_quality_gate",
    """
    WITH t AS (
      SELECT lang,
             length(text) AS n,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents
    ),
    sig AS (
      SELECT lang,
             ROUND(CASE WHEN n = 0 THEN 0.0 ELSE alpha * 1.0 / n END, 6)
               AS alpha_ratio,
             len(toks) AS n_tokens,
             COALESCE(ROUND(len(list_distinct(toks)) * 1.0
                            / nullif(len(toks), 0), 4), 0.0) AS uniq_frac
      FROM t
    )
    SELECT lang,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN alpha_ratio < 0.5 THEN 'low_alpha'
                WHEN uniq_frac < 0.2 THEN 'repetitive'
                ELSE 'ok' END AS reason,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sig GROUP BY 1, 2
    """,
    "quality_filter_gate AS IT DEPLOYS: the keep/drop rules running"
    " on a document STREAM (the landing-zone ingest path), with a"
    " complete-mode (lang, first-failing-reason) count aggregate —"
    " the live drop-rate dashboard a curation team watches during a"
    " crawl. The gate itself is stateless (map-only per micro-batch,"
    " same length/alpha-ratio/distinct-token rules as the batch"
    " entry); the only streaming state is the counts aggregate,"
    " bounded by langs x reasons regardless of stream volume. Staged"
    " as 2 files drained with maxFilesPerTrigger=1, so the counts"
    " must merge across micro-batches; after the AvailableNow drain"
    " the sink hash-matches the batch oracle.",
)
def stream_quality_gate(spark, sf):
    from pyspark.sql import types as T

    from ..functions.text import alpha_ratio_expr

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_documents(spark, sf))
    )
    sig = src.withColumn(
        "__toks", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    ).select(
        "lang",
        alpha_ratio_expr("text").alias("alpha_ratio"),
        F.expr("size(__toks)").alias("n_tokens"),
        F.coalesce(
            F.round(
                F.expr("size(array_distinct(__toks))") * F.lit(1.0)
                / F.nullif(F.expr("size(__toks)"), F.lit(0)),
                4,
            ),
            F.lit(0.0),
        ).alias("uniq_frac"),
    )
    nt, ar, uf = F.col("n_tokens"), F.col("alpha_ratio"), F.col("uniq_frac")
    reasons = sig.select(
        "lang",
        F.when(nt < 10, "too_short")
        .when(nt > 100000, "too_long")
        .when(ar < 0.5, "low_alpha")
        .when(uf < 0.2, "repetitive")
        .otherwise("ok")
        .alias("reason"),
    )
    agg = reasons.groupBy("lang", "reason").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return _drain(agg, spark, mode="complete")


# =====================================================================
# Streaming curation pipeline (VERDICT r8 #6): the deploy shape of
# curation_pipeline's gate + dedup stages as ONE foreachBatch lineage
# =====================================================================

def _staged_documents_ordered(spark: SparkSession, sf_dir: str) -> str:
    """Two ID-ORDERED document slices with staggered mtimes: slice 1
    holds the lower half of doc_id, slice 2 the rest, so the
    AvailableNow drain (maxFilesPerTrigger=1) replays the corpus in
    id order — the arrival order under which incremental
    first-arrival dedup provably equals the batch keep-the-
    smallest-id rule."""
    key = (sf_dir, "docs-ordered")
    if key in _STAGED and os.path.isdir(_STAGED[key]):
        return _STAGED[key]
    d = tempfile.mkdtemp(prefix="sg_stream_docs_ord_")
    docs = _t(spark, sf_dir, "documents")
    mid = docs.agg(
        F.expr("percentile_approx(doc_id, 0.5)").alias("m")
    ).first()["m"]
    now = time.time()
    seen: set[str] = set()
    preds = [F.col("doc_id") < mid, F.col("doc_id") >= mid]
    for i, pred in enumerate(preds):
        docs.filter(pred).coalesce(1).write.mode("append").parquet(d)
        fresh = {f for f in os.listdir(d) if f.endswith(".parquet")} - seen
        for f in fresh:
            os.utime(os.path.join(d, f), (now + i, now + i))
        seen |= fresh
    _STAGED[key] = d
    return d


def _curation_gate(df: DataFrame) -> DataFrame:
    """quality_filter_gate's exact keep rules (stateless, map-only)."""
    sig = df.withColumn(
        "__toks", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    )
    nt = F.expr("size(__toks)")
    uf = F.coalesce(
        F.round(
            F.expr("size(array_distinct(__toks))") * F.lit(1.0)
            / F.nullif(F.expr("size(__toks)"), F.lit(0)),
            4,
        ),
        F.lit(0.0),
    )
    from ..functions.text import alpha_ratio_expr

    return sig.filter(
        (nt >= 10)
        & (nt <= 100000)
        & (alpha_ratio_expr("text") >= 0.5)
        & (uf >= 0.2)
    ).select("doc_id", "text", "lang", "n_chars")


def _band_frame(sigs: DataFrame) -> DataFrame:
    """(id, band, rows, bh) — the LSH band explode (minhash_pairs' /
    dedup_incremental_minhash's banding, one expression)."""
    from ..operators import dedup as dd

    return sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {dd.N_BANDS - 1}),"
                f" b -> struct(b AS band,"
                f" slice(sig, b * {dd.ROWS_PER_BAND} + 1,"
                f" {dd.ROWS_PER_BAND}) AS rows,"
                f" hash(slice(sig, b * {dd.ROWS_PER_BAND} + 1,"
                f" {dd.ROWS_PER_BAND})) AS bh))"
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.rows", "bb.bh")


def curation_stream_batch(
    batch: DataFrame, bid: int, out_dir: str, idx_dir: str
) -> None:
    """One idempotent micro-batch of the streaming curation pipeline:
    gate -> exact dedup vs the fingerprint index -> near dedup vs the
    SIGNATURE INDEX (+ this batch) -> append accepted docs; extend the
    index with every gate-passed new fingerprint (matched-or-not —
    the batch rule drops b when paired with ANY smaller a, even an a
    that was itself dropped, so the index must remember dropped reps
    too). All writes go to per-batch subdirs with mode=overwrite, so
    a replayed batch_id rewrites the identical content instead of
    appending twice — the foreachBatch idempotence pattern
    (streaming/incremental.py's merge discipline, file-sink form).
    """
    from ..operators import dedup as dd

    spark = batch.sparkSession
    kept = _curation_gate(batch)
    keyed = kept.withColumn(
        "fp", F.md5(F.coalesce(F.col("text"), F.lit("")))
    )
    wfp = Window.partitionBy("fp")
    reps = (
        keyed.withColumn("__m", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("__m"))
        .drop("__m")
    )
    prior = [
        f"{idx_dir}/b{i}" for i in range(bid)
        if os.path.isdir(f"{idx_dir}/b{i}")
    ]
    idx = spark.read.parquet(*prior) if prior else None
    new_reps = (
        reps.join(idx.select("fp"), "fp", "left_anti") if idx is not None
        else reps
    )
    sigs_new = dd.minhash_signatures(
        new_reps, id_col="doc_id", text_col="text"
    ).select("id", "shingles", "sig").persist()
    all_sigs = (
        sigs_new.unionByName(idx.select("id", "shingles", "sig"))
        if idx is not None
        else sigs_new
    )
    # candidates: new reps vs (index + this batch), EARLIER side only
    # (id order == arrival order, so rb < ra covers both the persisted
    # index and the within-batch self-pairs)
    cand = (
        _band_frame(sigs_new).alias("x")
        .join(
            _band_frame(all_sigs).alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.rows") == F.col("y.rows"))
            & (F.col("y.id") < F.col("x.id")),
        )
        .select(F.col("x.id").alias("ra"), F.col("y.id").alias("rb"))
        .distinct()
    )
    sa = sigs_new.select(F.col("id").alias("ra"),
                         F.col("shingles").alias("sh_a"))
    sb = all_sigs.select(F.col("id").alias("rb"),
                         F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    dropped = (
        cand.join(sa, "ra")
        .join(sb, "rb")
        .withColumn(
            "jaccard",
            F.round(
                F.when(union > 0, inter.cast("double") / union)
                .otherwise(0.0),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.3)
        .select(F.col("ra").alias("doc_id"))
        .distinct()
    )
    accepted = new_reps.join(dropped, "doc_id", "left_anti")
    accepted.select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/b{bid}")
    sigs_new.join(
        new_reps.select(F.col("doc_id").alias("id"), "fp"), "id"
    ).select("fp", "id", "shingles", "sig").write.mode(
        "overwrite"
    ).parquet(f"{idx_dir}/b{bid}")
    sigs_new.unpersist()


def _stream_curation_oracle_sql() -> str:
    """The batch twin: curation_pipeline's stage-1/2 CTEs verbatim
    (quality gate -> exact-before-near dedup verdict), projected to
    the survivor rows the stream appends."""
    from .queries import _minhash_pairs_ctes

    return f"""
    WITH sigq AS (
      SELECT doc_id, text, lang, n_chars,
             length(text) AS n,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, lang, n_chars FROM sigq
      WHERE len(toks) >= 10 AND len(toks) <= 100000
        AND ROUND(CASE WHEN n = 0 THEN 0.0
                       ELSE alpha * 1.0 / n END, 6) >= 0.5
        AND COALESCE(ROUND(len(list_distinct(toks)) * 1.0
                           / nullif(len(toks), 0), 4), 0.0) >= 0.2
    ),
    {_minhash_pairs_ctes("kept")},
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (
               PARTITION BY md5(coalesce(text, ''))) AS rep
      FROM kept
    ),
    near AS (
      SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE jaccard >= 0.3
    )
    SELECT k.doc_id, k.lang, k.n_chars
    FROM kept k JOIN ex e ON k.doc_id = e.doc_id
    WHERE e.doc_id = e.rep
      AND k.doc_id NOT IN (SELECT doc_id FROM near)
    """


@_q(
    "stream_curation_pipeline",
    _stream_curation_oracle_sql(),
    "The composed curation pipeline AS IT DEPLOYS (VERDICT r8 #6):"
    " ONE foreachBatch lineage running quality gate -> incremental"
    " exact dedup (fingerprint index) -> incremental MinHash near"
    " dedup (signature index, dedup_incremental_minhash's"
    " band-join-the-persisted-index shape) -> append sink, drained"
    " under Trigger.AvailableNow over two chronologically-staggered,"
    " ID-ORDERED document slices. Because arrival order == id order,"
    " first-arrival-wins is PROVABLY the batch keep-the-smallest-id"
    " rule: a rep is dropped iff some band-colliding earlier doc"
    " verifies at jaccard >= 0.3, and every earlier doc is findable"
    " as its exact-group rep in the index (reps are group minima and"
    " share their members' text — the member-expansion argument in"
    " curation_stream_batch). The oracle is therefore the BATCH"
    " twin: curation_pipeline's gate + dedup-verdict CTEs verbatim,"
    " hash-compared to what the stream appended — streaming"
    " semantics checked against batch ground truth, the"
    " stream_tumbling_agg contract extended to a multi-stage"
    " stateful pipeline. Index state lives in per-batch parquet"
    " subdirs written with mode=overwrite keyed on batch_id, so a"
    " crashed-and-replayed batch rewrites identical content instead"
    " of double-appending (idempotent-rerun pytest in"
    " tests/test_r9.py). At scale: per-batch cost is O(delta x"
    " collision rate) — the stream never re-pairs base-vs-base; the"
    " index join is band-keyed exactly like the batch LSH."
    " Measured (VERDICT r9 #6, scale_timing harness, one session):"
    " 27.7s at 10x / 93.2s at 100x replication of sf0.1 — 3.4x wall"
    " for 10x data, sublinear because the replicas are exact copies"
    " the signature index collapses on arrival (output stays 4756"
    " curated docs, the unique-signature set), so the growing term"
    " is the band-keyed index probe, not re-verification; the batch"
    " twin curation_pipeline measured 34.4s/334.4s in the SAME"
    " session — the incremental path's index join beats re-running"
    " the batch LSH end-to-end at every scale, which is the reason"
    " the deployment shape exists.",
)
def stream_curation_pipeline(spark, sf):
    from pyspark.sql import types as T

    src_dir = _staged_documents_ordered(spark, sf)
    work = tempfile.mkdtemp(prefix="sg_curation_stream_")
    out_dir, idx_dir = f"{work}/out", f"{work}/idx"
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def fn(b: DataFrame, bid: int) -> None:
        curation_stream_batch(b, bid, out_dir, idx_dir)

    with _few_partitions(spark):
        q = stream.start_foreach_batch(src, fn, checkpoint=f"{work}/ckpt")
        q.awaitTermination(300)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .select("doc_id", "lang", "n_chars")
    )
