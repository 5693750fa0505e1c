"""Testdata catalog: parquet scans with each schema declared from its footer.

Tables are the driver-materialized synthetic star schema (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` under an ``sf`` directory, each one parquet file or a
directory of part files (the layout ``benchdata.ensure_scaled`` writes).

Each read declares its schema, built on the driver from one parquet
footer with pyarrow, so no Spark job runs to infer it; the declared
schema is the one Spark's inference would give. Catalyst keeps
predicate pushdown / column pruning / partition pruning. We never cache
here (the caller decides). JSON, unlike parquet, is never read with an
inferred schema in production paths (see schemas.py for the declared
StructTypes of the reference payload).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable, as Spark
    reports the schema of any file scan."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _footer_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from one footer.

    ``path`` is a parquet file or a directory of part files; as Spark
    does without ``mergeSchema``, a directory takes the schema of its
    first data file in sorted order (names starting ``_`` or ``.`` are
    not data). Top-level timestamps follow the column's parquet type,
    not its arrow type, because pyarrow reports INT96 (Spark's default
    timestamp encoding) as ``timestamp[ns]``: INT96 is ``TimestampType``,
    INT64 TIMESTAMP(NANOS) is ``LongType`` (Spark reads it only as a
    long, under ``spark.sql.legacy.parquet.nanosAsLong``), and any other
    timestamp is ``TimestampType`` if adjusted to UTC, else
    ``TimestampNTZType``.
    """
    if os.path.isdir(path):
        data = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
        path = os.path.join(path, min(data))
    pf = pq.ParquetFile(path)
    leaves = {c.path: c for c in pf.schema}
    fields = []
    for f in from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True):
        col = leaves.get(f.name)
        dt = f.dataType
        if col is not None and col.physical_type == "INT96":
            dt = T.TimestampType()
        elif col is not None and col.logical_type.type == "TIMESTAMP":
            if json.loads(col.logical_type.to_json())["timeUnit"] == "nanoseconds":
                dt = T.LongType()
        fields.append(T.StructField(f.name, dt))
    return _nullable(T.StructType(fields))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (columnar parquet scan, pushdown-capable).

    The path ``<sf_dir>/<name>.parquet`` is a file or a directory of
    part files. Its schema is declared from the parquet footer
    (``_footer_schema``), read on the driver, so no Spark job runs.

    ``events.ts`` has shipped under three parquet encodings over time:
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read as long
    nanos via the legacy conf and truncate to micros), TIMESTAMP(MICROS)
    without timezone (Spark reads TIMESTAMP_NTZ), and TIMESTAMP(MICROS)
    UTC. We normalize all three to a session-TZ ``TimestampType`` —
    the session TZ is pinned UTC, which is exactly what DuckDB yields on
    the same file, so oracle comparisons line up regardless of encoding.
    The legacy conf is set only for a nanos ``ts``, and stays set: the
    scan needs it whenever the frame executes.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(path)
    ts_type = schema["ts"].dataType if name == "events" else None
    if isinstance(ts_type, T.LongType):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Session TZ is pinned UTC, so this is a pure type-tag change.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Spread a small unsplittable scan before heavy per-row work.

    The optimization-guide §2.5 input-skew fix: a single-row-group
    parquet file (every testdata table ships as one) yields exactly ONE
    non-empty scan partition, so regex/codec/UDF map work over it runs
    on one core no matter how many the session has. When the input has
    fewer partitions than the session's parallelism, round-robin
    repartition to the core count (deterministic: Spark sorts before
    round-robin, SPARK-23207); when the input is already split — any
    real multi-file corpus — this is a NO-OP, so nothing is added at
    production scale.

    Call it only in front of heavy per-row map work, never between a
    scan and its pushdown-able filters (repartition would block
    predicate pushdown).

    The partition probe is side-effect-free (optimization round 12):
    ``df.rdd`` under AQE eagerly materializes upstream query stages
    whenever the plan contains an Exchange, and dedup/multimodal
    operators call spread() on arbitrary caller frames (e.g.
    curation_pipeline's persisted mid-pipeline ``kept``), not only on
    scans. A plan that already contains an Exchange has its
    parallelism set by that exchange — return it untouched without
    ever building ``df.rdd``. Only for exchange-free (narrow) plans is
    ``df.rdd`` consulted, where it is a pure metadata build.
    """
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    # executedPlan (NOT sparkPlan, which predates EnsureRequirements
    # and never shows exchanges) — under AQE this is the un-executed
    # AdaptiveSparkPlan initial plan: pure planning, no job.
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
