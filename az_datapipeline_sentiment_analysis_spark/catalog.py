"""Testdata catalog: parquet scans, each schema read from the file.

Tables are the driver-materialized synthetic star schema (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` — one parquet file per table under an ``sf`` directory.

Reads are plain ``spark.read.parquet`` without a declared schema, so
each call resolves the schema from the parquet footer (one Spark job
per call), and Catalyst keeps predicate pushdown / column pruning /
partition pruning. We never cache here (the caller decides). JSON, unlike parquet, is never read
with an inferred schema in production paths (see schemas.py for the
declared StructTypes of the reference payload).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (columnar parquet scan, pushdown-capable).

    ``events.ts`` has shipped under three parquet encodings over time:
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read as long
    nanos via the legacy conf and truncate to micros), TIMESTAMP(MICROS)
    without timezone (Spark reads TIMESTAMP_NTZ), and TIMESTAMP(MICROS)
    UTC. We normalize all three to a session-TZ ``TimestampType`` —
    the session TZ is pinned UTC, which is exactly what DuckDB yields on
    the same file, so oracle comparisons line up regardless of encoding.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Session TZ is pinned UTC, so this is a pure type-tag change.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


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
