"""Paged REST API source as a Spark 4 Python DataSource.

Generalizes the reference's driver-side review fetch (reference
``FunctionApp1/hotel_reviews/__init__.py:16-37``): a single-threaded
``requests.get`` of ONE page becomes a registered data source whose
pages are **partitions** — a 1000-page crawl runs 1000-way parallel,
one HTTP call per task, no driver bottleneck.

Source-side pushdown (reference S21: ``hotel_id``, ``language_filter``,
``sort_type``, ``page_number`` as query params) maps onto the V2-style
``pushFilters`` hook: equality/IN filters on ``hotel_id`` and
``languagecode`` are translated into request parameters and removed
from the Spark-side plan; everything else is left for Spark to
re-apply. ``numPages``/``pageSize`` options bound the scan (the
reference reads exactly one page of 25, ``sample.json`` ``count: 25``).

``spark.readStream.format("rest_reviews")`` reads the same pages: the
offset is a page number, ``numPages`` bounds both readers (it is the
stream's latest offset), and a micro-batch is one partition per page in
``[start, end)``, read by the batch reader's task body. One start thus
drains every page its checkpoint has not committed; a timer fire is a
restart on the same checkpoint with a larger ``numPages``, and only the
new pages arrive. Replay is page-stable: a replayed micro-batch
re-fetches the same pages (a real endpoint must be page-stable too, or
the consumer dedups by ``review_hash``).

Networking is injected: the default ``fetch_page`` is a deterministic
synthetic reviews-API generator (this container has no egress), and a
real deployment passes an HTTP fetcher with the same signature. The
partition/pushdown plumbing — the part Spark sees — is identical
either way.

Scale: one partition per page keeps memory per task at page size;
failures retry per-task (vs the reference's at-most-once try/except
log-and-drop at ``__init__.py:39-40``).
"""

from __future__ import annotations

import collections
import json
import time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql import types as T

# Rows surfaced by the source: one review per row, flat "silver-ish"
# projection of the payload fields the pipeline consumes downstream.
REST_REVIEW_SCHEMA = T.StructType(
    [
        T.StructField("review_id", T.LongType()),
        T.StructField("hotel_id", T.LongType()),
        T.StructField("review_hash", T.StringType()),
        T.StructField("average_score", T.DoubleType()),
        T.StructField("title", T.StringType()),
        T.StructField("pros", T.StringType()),
        T.StructField("cons", T.StringType()),
        T.StructField("languagecode", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("page_number", T.IntegerType()),
    ]
)

_WORDS = (
    "fast", "slow", "good", "bad", "clean", "dirty", "quick", "late",
    "nice", "poor", "fresh", "cold", "bright", "dark", "easy", "hard",
)


def fetch_page(params: dict) -> str:
    """Deterministic synthetic stand-in for the reviews REST endpoint.

    Returns a JSON envelope ``{count, result: [...]}`` shaped like the
    reference payload. Seeded by (hotel_id, page) so every executor,
    retry, and test sees identical data.
    """
    hotel_id = int(params.get("hotel_id", 1676161))
    page = int(params.get("page_number", 0))
    size = int(params.get("page_size", 25))
    langs = (params.get("language_filter") or "en,de,fr").split(",")
    result = []
    for i in range(size):
        rid = hotel_id * 100000 + page * size + i
        w = [_WORDS[(rid + j * 7) % len(_WORDS)] for j in range(6)]
        result.append(
            {
                "review_id": rid,
                "hotel_id": hotel_id,
                "review_hash": f"h{rid:016x}",
                "average_score": round(1.0 + (rid % 9) / 2.0, 1),
                "title": f"review {rid}",
                "pros": " ".join(w[:3]),
                "cons": " ".join(w[3:]),
                "languagecode": langs[rid % len(langs)],
                "date": f"2024-{1 + rid % 12:02d}-{1 + rid % 28:02d} 12:00:00",
            }
        )
    return json.dumps({"count": len(result), "result": result})


# --- failure semantics ----------------------------------------------

class FetchError(RuntimeError):
    """HTTP-level fetch failure with status-code retry semantics."""

    def __init__(self, status: int, msg: str = "", retry_after: float | None = None):
        super().__init__(f"fetch failed: HTTP {status} {msg}")
        self.status = status
        self.retry_after = retry_after


RETRYABLE_STATUSES = frozenset({408, 429, 500, 502, 503, 504})


def fetch_with_retry(
    fetch,
    params: dict,
    *,
    max_attempts: int = 4,
    base_backoff_s: float = 0.05,
    sleep=time.sleep,
):
    """Per-task retry with exponential backoff (honoring Retry-After).

    Retries transient failures — timeouts, connection drops, and
    retryable HTTP statuses (408/429/5xx) — up to ``max_attempts``;
    4xx client errors propagate immediately and fail the task (Spark's
    own task retry then re-runs the WHOLE page, which is safe because
    pages are the unit of work and fetches are page-stable). This
    replaces the reference's at-most-once try/except log-and-drop
    (reference ``FunctionApp1/hotel_reviews/__init__.py:39-40``).
    """
    attempt = 0
    while True:
        try:
            return fetch(params)
        except FetchError as e:
            attempt += 1
            if e.status not in RETRYABLE_STATUSES or attempt >= max_attempts:
                raise
            delay = (
                e.retry_after
                if e.retry_after is not None
                else base_backoff_s * (2 ** (attempt - 1))
            )
            sleep(delay)
        except (TimeoutError, ConnectionError):
            attempt += 1
            if attempt >= max_attempts:
                raise
            sleep(base_backoff_s * (2 ** (attempt - 1)))


# Per-worker-process attempt log for the failure-injection fetchers
# (keyed by page so concurrent tasks don't interfere).
_FLAKY_CALLS: collections.Counter = collections.Counter()


def fetch_page_flaky(params: dict) -> str:
    """Failure-injecting fetcher: for every page the first attempt
    times out, the second is rate-limited (429 + Retry-After), the
    third succeeds with data identical to :func:`fetch_page` — so a
    correct retry path yields byte-identical results."""
    key = (params.get("hotel_id"), params.get("page_number"))
    _FLAKY_CALLS[key] += 1
    n = _FLAKY_CALLS[key]
    if n % 3 == 1:
        raise TimeoutError(f"injected timeout for page {key}")
    if n % 3 == 2:
        raise FetchError(429, "injected rate limit", retry_after=0.01)
    return fetch_page(params)


def fetch_page_broken(params: dict) -> str:
    """Non-retryable failure: a 404 client error on every attempt."""
    raise FetchError(404, "injected not-found")


def fetch_page_partial(params: dict) -> str:
    """Short page: odd pages return page_size-1 rows (count mismatch
    with the requested size). The reader accepts what arrived — page
    truncation is an upstream property, not a task failure."""
    page = int(params.get("page_number", 0))
    if page % 2 == 1:
        params = dict(params)
        params["page_size"] = str(int(params.get("page_size", 25)) - 1)
    return fetch_page(params)


# Named fetchers selectable via .option("fetcher", <name>) — options are
# strings, so injection is by registry key; entries are module-level
# functions, picklable by reference into executor workers.
FETCHERS = {
    "synthetic": fetch_page,
    "flaky": fetch_page_flaky,
    "broken": fetch_page_broken,
    "partial": fetch_page_partial,
}


@dataclass
class PagePartition(InputPartition):
    page: int
    params: tuple  # sorted (key, value) pairs; must be picklable+hashable


def _page_partitions(
    options: dict, pushed: dict, first: int, end: int
) -> list[PagePartition]:
    """One partition per page in ``[first, end)``, all sharing one set
    of request params (the scan's options plus any pushed filters)."""
    params = {
        "hotel_id": options.get("hotel_id", "1676161"),
        "page_size": options.get("pagesize", "25"),
        **pushed,
    }
    frozen = tuple(sorted(params.items()))
    return [PagePartition(page=p, params=frozen) for p in range(first, end)]


def _page_rows(options: dict, partition: PagePartition):
    """Fetch one page (with retry) and yield its reviews as rows of
    ``REST_REVIEW_SCHEMA`` — the task body of both readers."""
    params = dict(partition.params)
    params["page_number"] = str(partition.page)
    fetch = FETCHERS[options.get("fetcher", "synthetic")]
    payload = json.loads(fetch_with_retry(fetch, params))
    for r in payload.get("result", []):
        yield (
            r.get("review_id"),
            r.get("hotel_id"),
            r.get("review_hash"),
            r.get("average_score"),
            r.get("title"),
            r.get("pros"),
            r.get("cons"),
            r.get("languagecode"),
            r.get("date"),
            partition.page,
        )


class RestReviewsReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.options = options
        self.pushed: dict[str, str] = {}

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (Spark API)
        """Translate supported filters into API query params (S21).

        Accepts ``EqualTo`` on hotel_id/languagecode and ``In`` on
        languagecode (the reference's comma-joined ``language_filter``).
        Unsupported filters are yielded back for Spark to evaluate.
        """
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("hotel_id",):
                self.pushed["hotel_id"] = str(f.value)
            elif isinstance(f, EqualTo) and f.attribute == ("languagecode",):
                self.pushed["language_filter"] = str(f.value)
            elif isinstance(f, In) and f.attribute == ("languagecode",):
                self.pushed["language_filter"] = ",".join(
                    str(v) for v in f.values
                )
            else:
                yield f

    def partitions(self):
        n_pages = int(self.options.get("numpages", 1))
        return _page_partitions(self.options, self.pushed, 0, n_pages)

    def read(self, partition: PagePartition):
        return _page_rows(self.options, partition)


class RestReviewsStreamReader(DataSourceStreamReader):
    """Micro-batch page puller: the S1 fetch under the S2 cadence (the
    offset contract is in the module docstring)."""

    def __init__(self, options: dict):
        self.options = options

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API)
        return {"page": 0}

    def latestOffset(self) -> dict:  # noqa: N802 (Spark API)
        return {"page": int(self.options.get("numpages", 1))}

    def partitions(self, start: dict, end: dict) -> list[PagePartition]:
        return _page_partitions(self.options, {}, start["page"], end["page"])

    def read(self, partition: PagePartition):
        return _page_rows(self.options, partition)


class RestReviewsDataSource(DataSource):
    """``spark.read.format("rest_reviews")`` — paged review source
    (batch reader + micro-batch stream reader)."""

    @classmethod
    def name(cls) -> str:
        return "rest_reviews"

    def schema(self) -> T.StructType:
        return REST_REVIEW_SCHEMA

    def reader(self, schema: T.StructType) -> RestReviewsReader:
        return RestReviewsReader(schema, self.options)

    def streamReader(  # noqa: N802 (Spark API)
        self, schema: T.StructType
    ) -> RestReviewsStreamReader:
        return RestReviewsStreamReader(self.options)


def register(spark) -> None:
    # Python-source filter pushdown is opt-in (runtime-settable conf);
    # without it Spark refuses a reader that implements pushFilters.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(RestReviewsDataSource)
