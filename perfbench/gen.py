"""Seeded input generator for the pipeline workloads.

Everything here is plain Python (no Spark), so the same seed gives the
same bytes on every machine:

* ``write_pages`` lands reviews-API envelopes, one JSON file per page,
  built from the golden fixture's records.  Each copy keeps the
  fixture's ragged ``hotelier_response_date``, its ``""``-as-null text
  fields and its nested ``author`` / ``stayed_room_info`` structs, and
  shifts ``review_id``, ``hotel_id`` and ``user_id``.  Pros and cons
  are word windows drawn from the documents table, so labels vary.  A
  fixed share of reviews re-fetch an earlier landing's review verbatim
  and a fixed share of pages are truncated (corrupt) JSON.
* ``write_source_table`` / ``write_results_table`` land an
  already-processed SourceTable and its results with pyarrow.
"""

from __future__ import annotations

import copy
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join("tests", "fixtures", "reviews_payload.json")
PAGE_SIZE = 25
REVIEW_ID_BASE = 9_100_000_000
SOURCE_ID_BASE = 8_000_000_000
TEXT_POOL = 400  # documents drawn into the word-window pool


def load_fixture_records(root: str) -> list[dict]:
    """The golden payload's review records, in file order."""
    with open(os.path.join(root, FIXTURE)) as fh:
        return json.load(fh)["result"]


def load_texts(documents_path: str) -> list[str]:
    """Document texts to cut pros/cons windows from (first TEXT_POOL)."""
    table = pq.read_table(documents_path, columns=["text"])
    return [t for t in table.column("text").to_pylist()[:TEXT_POOL] if t]


def _window(rng: random.Random, texts: list[str], lo: int, hi: int) -> str:
    words = rng.choice(texts).split()
    n = rng.randint(lo, hi)
    start = rng.randint(0, max(0, len(words) - n))
    return " ".join(words[start:start + n])


@dataclass
class Pages:
    """What ``write_pages`` landed, for the correctness checks."""

    files: list[str]
    reviews: list[dict] = field(default_factory=list)  # in well-formed pages
    corrupt_pages: int = 0


def make_review(rng: random.Random, template: dict, k: int, texts: list[str]) -> dict:
    """Copy ``template`` as review number ``k`` with shifted keys."""
    rec = copy.deepcopy(template)
    rec["review_id"] = REVIEW_ID_BASE + k
    rec["hotel_id"] = template["hotel_id"] + k // PAGE_SIZE
    if rec.get("author"):
        rec["author"]["user_id"] = template["author"]["user_id"] + k
    rec["pros"] = _window(rng, texts, 4, 24) if rng.random() < 0.85 else ""
    rec["cons"] = _window(rng, texts, 3, 18) if rng.random() < 0.6 else ""
    return rec


def write_pages(
    out_dir: str,
    seed: int,
    n_pages: int,
    templates: list[dict],
    texts: list[str],
    *,
    first_review: int = 0,
    prefix: str = "page",
    refetch_pool: list[dict] = (),
    refetch_share: float = 0.0,
    corrupt_every: int = 0,
) -> Pages:
    """Land ``n_pages`` envelopes of ``PAGE_SIZE`` reviews in ``out_dir``.

    New reviews are numbered from ``first_review``.  A re-fetched review
    is an exact copy of one from ``refetch_pool`` (reviews landed
    earlier), each used at most once.  Every ``corrupt_every``-th page
    (1-based) is written truncated, so none of its reviews land.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pages = Pages(files=[])
    unused = list(refetch_pool)
    k = first_review
    for p in range(n_pages):
        result = []
        for _ in range(PAGE_SIZE):
            if unused and rng.random() < refetch_share:
                result.append(unused.pop(rng.randrange(len(unused))))
            else:
                result.append(make_review(rng, templates[k % len(templates)], k, texts))
                k += 1
        body = json.dumps(
            {"count": len(result), "result": result,
             "sort_options": ["SORT_MOST_RELEVANT", "SORT_RECENT"]},
            indent=1,
        )
        if corrupt_every and (p + 1) % corrupt_every == 0:
            body = body[: len(body) // 2]
            pages.corrupt_pages += 1
        else:
            pages.reviews.extend(result)
        path = os.path.join(out_dir, f"{prefix}-{p:05d}.json")
        with open(path, "w") as fh:
            fh.write(body)
        pages.files.append(path)
    return pages


SOURCE_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("text_column", pa.string()),
        pa.field("processed", pa.int32(), nullable=False),
    ]
)
RESULTS_SCHEMA = pa.schema(
    [
        pa.field("record_id", pa.string(), nullable=False),
        pa.field("sentiment", pa.string(), nullable=False),
        pa.field("confidence", pa.float64(), nullable=False),
    ]
)


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def write_source_table(
    out_dir: str, seed: int, n_rows: int, texts: list[str], *, n_files: int = 4
) -> list[int]:
    """Land an already-processed SourceTable; returns its ids, which sit
    below every page's review ids."""
    rng = random.Random(seed)
    ids = [SOURCE_ID_BASE + i for i in range(n_rows)]
    pool = [_window(rng, texts, 20, 40) for _ in range(512)]
    table = pa.table(
        {
            "id": ids,
            "text_column": [pool[rng.randrange(len(pool))] for _ in ids],
            "processed": pa.array([1] * n_rows, pa.int32()),
        },
        schema=SOURCE_SCHEMA,
    )
    _write_split(table, out_dir, n_files)
    return ids


def write_results_table(out_dir: str, ids: list[int], *, n_files: int = 4) -> None:
    """Land results for ``ids`` (the state left by earlier increments)."""
    labels = ("positive", "negative", "mixed", "neutral")
    table = pa.table(
        {
            "record_id": [str(i) for i in ids],
            "sentiment": [labels[i % 4] for i in ids],
            "confidence": [round((i % 1000) / 1000, 6) for i in ids],
        },
        schema=RESULTS_SCHEMA,
    )
    _write_split(table, out_dir, n_files)
