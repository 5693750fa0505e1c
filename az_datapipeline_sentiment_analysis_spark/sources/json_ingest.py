"""Bronze -> silver ingest for the nested reviews payload.

The reference lands raw API JSON and (via an implied ADF copy,
reference ``applications/applications.tf:80-88``) turns it into the
flat ``SourceTable(id, text_column, processed)`` it later scores. That
mapping is never written down in the reference; here it is explicit,
declarative, and schema-checked:

* **bronze**: parse with the declared ``REVIEWS_PAYLOAD`` StructType in
  PERMISSIVE mode, keeping a ``_corrupt_record`` column — schema
  inference at 100 TB is an extra full pass AND silently widens types
  on ragged fields (``hotelier_response_date`` appears on only some
  records, reference ``sample.json``).
* **silver**: explode ``result``, apply the type discipline from
  SURVEY.md §1.3 — date strings -> TIMESTAMP/DATE, epoch ints ->
  TIMESTAMP, boolean-as-int flags -> BOOLEAN, and the reference's
  ``""``-as-null convention normalized to real NULLs.
* **corpus**: the silver->SourceTable flatten (title/pros/cons -> one
  text row per review) that EP3 leaves implicit.

All pure DataFrame ops — parse/explode/cast stay inside codegen and
scale linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import REVIEWS_PAYLOAD

# Text fields where the reference uses "" to mean absent.
_EMPTY_AS_NULL = (
    "title", "title_translated", "pros", "pros_translated",
    "cons", "cons_translated", "hotelier_name", "hotelier_response",
    "travel_purpose", "anonymous",
)
_BOOL_FLAGS = ("is_trivial", "is_moderated", "is_incentivised", "reviewng")


def read_bronze(spark: SparkSession, path: str) -> DataFrame:
    """Parse payload JSON file(s) with the declared schema (PERMISSIVE)."""
    return (
        spark.read.schema(REVIEWS_PAYLOAD)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", "true")
        .json(path)
    )


def bronze_from_json_strings(df: DataFrame, col: str = "payload") -> DataFrame:
    """Same parse for payloads already in a string column (e.g. from the
    REST source or a message bus): ``F.from_json`` with the same schema."""
    return df.select(F.from_json(F.col(col), REVIEWS_PAYLOAD).alias("p")).select(
        "p.*"
    )


def _typed(c: str) -> Column:
    """A review field under the silver type discipline."""
    src = F.col(f"r.{c}")
    if c in _EMPTY_AS_NULL:
        return F.when(src == "", None).otherwise(src).alias(c)
    if c in _BOOL_FLAGS:
        return src.cast("boolean").alias(c)
    return src.alias(c)


def silver_reviews(bronze: DataFrame) -> DataFrame:
    """Explode + type the review records (one row per review).

    Implements SURVEY.md §1.3 normatively:
    ``date`` -> timestamp, ``checkin/checkout`` -> date,
    ``hotelier_response_date`` epoch-seconds -> timestamp, int flags ->
    boolean, ``""`` -> NULL on text fields. Nested ``author`` /
    ``stayed_room_info`` structs are preserved as struct columns.

    One ``select`` over the exploded records: the review fields in
    payload order, then the derived columns.
    """
    exploded = bronze.select(F.explode("result").alias("r"))
    fields = exploded.schema["r"].dataType.fieldNames()
    checkin = F.to_date("r.stayed_room_info.checkin")
    checkout = F.to_date("r.stayed_room_info.checkout")
    return exploded.select(
        *[_typed(c) for c in fields],
        F.to_timestamp("r.date").alias("review_ts"),
        F.to_timestamp(F.from_unixtime("r.hotelier_response_date")).alias(
            "hotelier_response_ts"
        ),
        checkin.alias("checkin"),
        checkout.alias("checkout"),
        F.datediff(checkout, checkin).alias("stay_nights"),
    )


def review_text_corpus(silver: DataFrame) -> DataFrame:
    """Silver -> SourceTable-shaped corpus (EP3's missing mapping).

    One row per review: ``id`` = review_id, ``text_column`` = the
    non-null concat of title/pros/cons, ``processed`` = 0 — exactly the
    table FunctionApp2 scans (reference
    ``FunctionApp2/process_data/__init__.py:40-42``).
    """
    return silver.select(
        F.col("review_id").alias("id"),
        F.concat_ws(
            ". ", F.col("title"), F.col("pros"), F.col("cons")
        ).alias("text_column"),
        F.lit(0).alias("processed"),
    )
