"""Sink helpers: append, JSON-record, and upsert entry points.

The reference's three write paths (SURVEY §2.1): S15 row-at-a-time
INSERT -> set-at-a-time append; S4 json-to-log -> a to_json
projection; S16 UPDATE..IN(..) -> the idempotent merge in
``streaming.incremental``. Kept thin on purpose — the table layer
(parquet here, Delta/Iceberg in deployment) owns transactionality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_parquet(df: DataFrame, path: str) -> None:
    """S15 as a distributed append (no driver loop, no row-at-a-time)."""
    df.write.mode("append").parquet(path)


def to_json_rows(df: DataFrame) -> DataFrame:
    """S4's serialize-whole-record: one JSON string column per row."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))

