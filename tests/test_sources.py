"""REST data source + JSON bronze->silver ingest tests (SURVEY §5.2)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from az_datapipeline_sentiment_analysis_spark.sources import json_ingest, rest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "reviews_payload.json")


# --- REST paged source (S1/S21, M8) ----------------------------------


def test_rest_source_partition_per_page(spark):
    rest.register(spark)
    df = (
        spark.read.format("rest_reviews")
        .option("numPages", 4)
        .option("pageSize", 25)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # one partition per page
    rows = df.count()
    assert rows == 100
    assert df.select("page_number").distinct().count() == 4


def test_rest_source_filter_pushdown_equality(spark):
    rest.register(spark)
    df = (
        spark.read.format("rest_reviews")
        .option("numPages", 2)
        .load()
        .filter(F.col("languagecode") == "de")
    )
    out = df.collect()
    # pushed language_filter=de -> the synthetic API only emits 'de'
    assert len(out) == 50
    assert {r.languagecode for r in out} == {"de"}


def test_rest_source_deterministic(spark):
    rest.register(spark)

    def load():
        return (
            spark.read.format("rest_reviews")
            .option("numPages", 1)
            .load()
            .orderBy("review_id")
            .collect()
        )

    assert load() == load()


# --- failure semantics: retry, fail-fast, partial pages, replay ------


def test_fetch_with_retry_backoff_and_retry_after():
    calls, delays = [], []
    script = [
        TimeoutError("t"),
        rest.FetchError(429, "rl", retry_after=0.7),
        rest.FetchError(503, "busy"),
        "payload",
    ]

    def fetch(params):
        step = script[len(calls)]
        calls.append(step)
        if isinstance(step, Exception):
            raise step
        return step

    out = rest.fetch_with_retry(
        fetch, {}, max_attempts=5, base_backoff_s=0.1, sleep=delays.append
    )
    assert out == "payload" and len(calls) == 4
    # timeout -> base backoff; 429 -> honors Retry-After; 503 -> doubled
    assert delays == [0.1, 0.7, 0.4]


def test_fetch_with_retry_client_error_fails_fast():
    import pytest as _pytest

    calls = []

    def fetch(params):
        calls.append(1)
        raise rest.FetchError(404, "gone")

    with _pytest.raises(rest.FetchError):
        rest.fetch_with_retry(fetch, {}, sleep=lambda s: None)
    assert len(calls) == 1  # no retry on 4xx


def test_fetch_with_retry_exhaustion_raises():
    import pytest as _pytest

    def fetch(params):
        raise rest.FetchError(503, "down")

    with _pytest.raises(rest.FetchError):
        rest.fetch_with_retry(fetch, {}, max_attempts=3, sleep=lambda s: None)


def test_rest_flaky_fetch_retries_to_identical_rows(spark):
    rest.register(spark)

    def load(fetcher):
        return (
            spark.read.format("rest_reviews")
            .option("numPages", 3)
            .option("fetcher", fetcher)
            .load()
            .orderBy("review_id")
            .collect()
        )

    # timeout -> 429 -> success inside each task; results identical to
    # the healthy fetcher, proving per-task retry (not data loss)
    assert load("flaky") == load("synthetic")


def test_rest_broken_fetch_fails_task(spark):
    import pytest as _pytest

    rest.register(spark)
    df = (
        spark.read.format("rest_reviews")
        .option("numPages", 1)
        .option("fetcher", "broken")
        .load()
    )
    with _pytest.raises(Exception, match="404|FetchError|not-found"):
        df.collect()


def test_rest_partial_pages_accepted(spark):
    rest.register(spark)
    df = (
        spark.read.format("rest_reviews")
        .option("numPages", 2)
        .option("pageSize", 25)
        .option("fetcher", "partial")
        .load()
    )
    per_page = {
        r.page_number: r.n for r in df.groupBy("page_number").agg(
            F.count("*").alias("n")).collect()
    }
    # odd pages arrive one row short; the reader takes what it got
    assert per_page == {0: 25, 1: 24}


def test_rest_stream_replay_is_page_stable():
    reader = rest.RestReviewsStreamReader({"numpages": "6", "pagesize": "25"})
    start, end = reader.initialOffset(), reader.latestOffset()
    assert (start, end) == ({"page": 0}, {"page": 6})
    parts = reader.partitions(start, end)
    assert [p.page for p in parts] == list(range(6))
    first = [row for p in parts for row in reader.read(p)]
    assert len(first) == 150
    # restart replay: re-reading the same partitions must reproduce the
    # micro-batch exactly (page-stable fetch)
    assert [row for p in parts for row in reader.read(p)] == first
    # a committed offset with no new pages plans no partitions
    assert reader.partitions(end, end) == []


# --- golden-payload ingest (S3, M3) -----------------------------------


def test_bronze_parses_declared_schema(spark):
    bronze = json_ingest.read_bronze(spark, FIXTURE)
    row = bronze.collect()[0]
    assert row["count"] == 3
    assert len(row["result"]) == 3
    assert row["_corrupt_record"] is None


def test_silver_types_and_null_convention(spark):
    silver = json_ingest.silver_reviews(json_ingest.read_bronze(spark, FIXTURE))
    rows = {r.review_id: r for r in silver.collect()}
    r1, r2, r3 = (rows[9000000001 + i] for i in range(3))

    # golden values (first record)
    assert r1.hotel_id == 1676161
    assert r1.average_score == 4.5
    assert r1.author.user_id == 42001
    assert r1.stayed_room_info.photo.photo_id == 55501
    assert str(r1.review_ts) == "2023-11-10 08:30:00"
    assert str(r1.checkin) == "2023-11-06"
    assert r1.stay_nights == 3 == r1.stayed_room_info.num_nights

    # ""-as-null normalization
    assert r1.cons is None and r1.anonymous is None
    assert r2.pros is None and r2.anonymous == "anonymous"

    # boolean-as-int flags -> real booleans
    assert r2.is_moderated is True and r1.is_moderated is False

    # ragged optional fields: record 3 lacks response/room info
    assert r1.hotelier_response_ts is not None
    assert r3.hotelier_response_ts is None
    assert r3.stayed_room_info is None and r3.stay_nights is None


SILVER_COLUMNS = [
    ("review_id", "bigint"),
    ("review_hash", "string"),
    ("hotel_id", "bigint"),
    ("hotelier_name", "string"),
    ("hotelier_response", "string"),
    ("hotelier_response_date", "bigint"),
    ("average_score", "double"),
    ("title", "string"),
    ("title_translated", "string"),
    ("pros", "string"),
    ("pros_translated", "string"),
    ("cons", "string"),
    ("cons_translated", "string"),
    ("date", "string"),
    ("travel_purpose", "string"),
    ("languagecode", "string"),
    ("countrycode", "string"),
    ("helpful_vote_count", "int"),
    ("anonymous", "string"),
    ("is_trivial", "boolean"),
    ("is_moderated", "boolean"),
    ("is_incentivised", "boolean"),
    ("reviewng", "boolean"),
    ("author", "struct<type:string,age_group:string,countrycode:string,"
     "type_string:string,city:string,name:string,helpful_vote_count:int,"
     "user_id:bigint,nr_reviews:int>"),
    ("stayed_room_info", "struct<room_id:bigint,room_name:string,"
     "checkin:string,checkout:string,num_nights:int,photo:struct<ratio:double,"
     "photo_id:bigint,url_original:string,url_square60:string,"
     "url_max300:string,url_640x200:string>>"),
    ("tags", "array<string>"),
    ("user_new_badges", "array<string>"),
    ("reviewer_photos", "array<string>"),
    ("review_ts", "timestamp"),
    ("hotelier_response_ts", "timestamp"),
    ("checkin", "date"),
    ("checkout", "date"),
    ("stay_nights", "int"),
]


def test_silver_pinned_on_golden_fixture(spark):
    """Columns, their order and types, and an order-insensitive hash of
    every value (rendered by Spark in the session time zone)."""
    silver = json_ingest.silver_reviews(json_ingest.read_bronze(spark, FIXTURE))
    assert [
        (f.name, f.dataType.simpleString()) for f in silver.schema.fields
    ] == SILVER_COLUMNS
    rows = sorted(r[0] for r in silver.select(F.to_json(F.struct("*"))).collect())
    assert len(rows) == 3
    assert hashlib.sha256("\n".join(rows).encode()).hexdigest() == (
        "ad1aa0d150e02ca1e4a1746e6c02d666841d537eac401221482eb325e82efb3a"
    )


def test_registry_fixtures_are_this_checkouts():
    """The JSON ingest entries and their oracles read the fixtures of the
    checkout the package was imported from, so a second checkout never
    reads another one's files."""
    import az_datapipeline_sentiment_analysis_spark as pkg
    from az_datapipeline_sentiment_analysis_spark.plans import queries

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    for path in (queries.GOLDEN_PAYLOAD, queries.CORRUPT_PAYLOAD):
        assert os.path.commonpath([checkout, path]) == checkout, path
        assert os.path.isfile(path), path


def test_corpus_flatten_skips_nulls(spark):
    silver = json_ingest.silver_reviews(json_ingest.read_bronze(spark, FIXTURE))
    corpus = {r.id: r for r in json_ingest.review_text_corpus(silver).collect()}
    # concat_ws skips NULLs: record 2 has no title->pros, only cons
    assert corpus[9000000002].text_column == (
        "Noisy and cold. slow elevator dirty bathroom noisy street"
    )
    assert corpus[9000000001].text_column.startswith("Great stay. fast checkin")
    assert all(r.processed == 0 for r in corpus.values())


def test_bronze_from_json_strings(spark):
    with open(FIXTURE) as f:
        payload = f.read()
    df = spark.createDataFrame([(payload,)], "payload string")
    bronze = json_ingest.bronze_from_json_strings(df)
    assert bronze.select(F.size("result")).collect()[0][0] == 3


def test_rest_stream_reads_pages_as_microbatches(spark, tmp_path):
    from az_datapipeline_sentiment_analysis_spark.sources import rest

    rest.register(spark)
    stream = (
        spark.readStream.format("rest_reviews")
        .option("numPages", "3")
        .option("pageSize", "10")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rest_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table("rest_stream").count() >= 30:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.table("rest_stream")
    assert got.count() == 30  # 3 pages x 10, drained by the first micro-batch
    pages = sorted(r.page_number for r in got.select("page_number").distinct().collect())
    assert pages == [0, 1, 2]
    # page contents match the batch reader on the same options
    batch = (
        spark.read.format("rest_reviews")
        .option("numPages", "3")
        .option("pageSize", "10")
        .load()
    )
    assert sorted(r.review_id for r in got.collect()) == sorted(
        r.review_id for r in batch.collect()
    )


def test_rest_stream_available_now_drains_backlog_once(spark, tmp_path):
    """One AvailableNow start drains the page backlog as ONE micro-batch
    of one partition per page; a restart on the same checkpoint writes
    nothing; a larger ``numPages`` (the next timer fire) delivers only
    the new pages."""
    from az_datapipeline_sentiment_analysis_spark.streaming import stream

    rest.register(spark)
    ckpt = str(tmp_path / "ckpt")
    batches = []

    def record(batch_df, batch_id):
        ids = sorted(r.review_id for r in batch_df.select("review_id").collect())
        batches.append((batch_id, batch_df.rdd.getNumPartitions(), ids))

    def start(n_pages):
        src = (
            spark.readStream.format("rest_reviews")
            .option("numPages", n_pages)
            .option("pageSize", 4)
            .load()
        )
        stream.start_foreach_batch(src, record, checkpoint=ckpt).awaitTermination(120)

    def page_ids(n_pages):
        df = spark.read.format("rest_reviews").option("numPages", n_pages)
        return sorted(r.review_id for r in df.option("pageSize", 4).load().collect())

    start(3)
    assert batches == [(0, 3, page_ids(3))]
    start(3)
    assert len(batches) == 1  # restart, no new pages: no batch
    start(5)
    assert len(batches) == 2
    batch_id, n_parts, ids = batches[1]
    assert (batch_id, n_parts) == (1, 2)
    assert ids == sorted(set(page_ids(5)) - set(page_ids(3)))


def test_jdbc_predicate_striping():
    from az_datapipeline_sentiment_analysis_spark.sources.jdbc import (
        incremental_predicates,
    )

    preds = incremental_predicates("id", 0, 99, 4)
    assert len(preds) == 4
    # ranges are mutually exclusive and exhaustive over [0, 99]
    bounds = []
    for p in preds:
        parts = p.replace("id >= ", "").replace("id <= ", "").split(" AND ")
        bounds.append((int(parts[0]), int(parts[1])))
    covered = sorted(bounds)
    assert covered[0][0] == 0 and covered[-1][1] == 99
    for (lo1, hi1), (lo2, _hi2) in zip(covered, covered[1:]):
        assert lo2 == hi1 + 1


def test_rate_source_events_shape(spark, tmp_path):
    from az_datapipeline_sentiment_analysis_spark.sources.synthetic import rate_events

    stream = rate_events(spark, rows_per_second=500)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_ev")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 30
    while time.time() < deadline and spark.table("rate_ev").count() < 50:
        time.sleep(0.5)
    q.stop()
    rows = spark.table("rate_ev").limit(50).collect()
    assert len(rows) >= 1
    assert {r.event_type for r in rows} <= {"click", "view", "signup", "purchase"}
    assert all(r.ts is not None and 0 <= r.value < 100 for r in rows)


def test_sink_helpers(spark, tmp_path):
    from az_datapipeline_sentiment_analysis_spark import sinks
    from az_datapipeline_sentiment_analysis_spark.catalog import table

    d = table(spark, "/root/testdata/sf0.001", "region")
    p = str(tmp_path / "out")
    sinks.append_parquet(d, p)
    sinks.append_parquet(d, p)
    assert spark.read.parquet(p).count() == d.count() * 2
    j = sinks.to_json_rows(d).collect()
    assert all(r.json.startswith("{") for r in j)


def test_jdbc_derby_roundtrip_and_pushdown(spark):
    """The live JDBC path: seed embedded Derby from parquet, read back
    partitioned, and verify the filter reaches the database."""
    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY
    from az_datapipeline_sentiment_analysis_spark.catalog import table as _t
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE as sfd

    df = REGISTRY["jdbc_scan"].fn(spark, sfd)
    # 4 range-partitions on doc_id -> parallel ingest
    assert df.rdd.getNumPartitions() == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(n_chars,100)" in plan, plan
    got = {(r.doc_id, r.lang, r.n_chars) for r in df.collect()}
    want = {
        (r.doc_id, r.lang, r.n_chars)
        for r in _t(spark, sfd, "documents")
        .filter(F.col("n_chars") >= 100)
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    assert got == want and len(got) > 0
