"""Catalog contracts: declared schemas and type normalization.

``catalog.table`` declares each schema from the parquet footer; it must
be exactly the schema Spark's inference gives, and reading or building
from it must run no Spark job.

``events.ts`` has shipped under three different parquet encodings across
driver rounds — TIMESTAMP(NANOS), TIMESTAMP(MICROS) without timezone
(Spark: TIMESTAMP_NTZ), and TIMESTAMP(MICROS) UTC. ``catalog.table``
must normalize all three to a plain ``TimestampType`` with identical
UTC instants, so downstream ``unix_millis``/window-range/streaming code
can never be broken again by a testdata re-encode.
"""

from __future__ import annotations

import glob

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import bench
from az_datapipeline_sentiment_analysis_spark import catalog
from az_datapipeline_sentiment_analysis_spark.benchdata import ensure_scaled
from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY
from az_datapipeline_sentiment_analysis_spark.session import conf_scope
from conftest import SF_ORACLE, SF_SMOKE

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_ENCODINGS = {
    "nanos": pa.timestamp("ns"),
    "micros-ntz": pa.timestamp("us"),
    "micros-utc": pa.timestamp("us", tz="UTC"),
}

# 2024-03-01T12:34:56.789Z and one hour later, as epoch micros.
_US = [1709296496789000, 1709300096789000]
_EXPECTED_MS = [us // 1000 for us in _US]


def _write_events(tmp_path, arrow_type):
    # Build as micros then convert, so the unit change is a real
    # conversion (int64 -> timestamp casts interpret values in the
    # TARGET unit, which would silently shift the instant).
    ts = pa.array(_US, type=pa.timestamp("us")).cast(arrow_type)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "user_id": pa.array([10, 20], type=pa.int64()),
            "ts": ts,
            "value": pa.array([1.5, 2.5], type=pa.float64()),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(tbl, path)
    return str(tmp_path)


@pytest.mark.parametrize(
    "arrow_type", [pytest.param(t, id=k) for k, t in _ENCODINGS.items()]
)
def test_events_ts_normalized_to_timestamp(spark, tmp_path, arrow_type):
    sf_dir = _write_events(tmp_path, arrow_type)
    ev = catalog.table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    # unix_millis must work directly (this is what broke in round 2) and
    # the instants must agree across encodings (session TZ pinned UTC).
    rows = ev.select("event_id", F.unix_millis("ts").alias("ms")).orderBy(
        "event_id"
    ).collect()
    assert [r.ms for r in rows] == _EXPECTED_MS


@pytest.fixture(scope="module")
def replica_dir(spark, tmp_path_factory):
    """The ``benchdata`` replica layout: every table a Spark-written
    directory of part files, timestamps in Spark's default INT96."""
    out = str(tmp_path_factory.mktemp("replica"))
    with conf_scope(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        ensure_scaled(spark, SF_SMOKE, out, factor=2)
    return out


_PARITY = [
    *(
        pytest.param("sf", sf, t, id=f"{sf.rsplit('/', 1)[-1]}-{t}")
        for sf in (SF_SMOKE, SF_ORACLE)
        for t in catalog.TABLES
    ),
    *(pytest.param("events", k, "events", id=f"events-{k}") for k in _ENCODINGS),
    *(pytest.param("replica", None, t, id=f"replica-{t}") for t in catalog.TABLES),
    pytest.param("non-null", None, None, id="non-null-nested"),
]


@pytest.mark.parametrize("kind,arg,name", _PARITY)
def test_footer_schema_equals_spark_inference(spark, tmp_path, request, kind, arg, name):
    if kind == "sf":
        path = f"{arg}/{name}.parquet"
    elif kind == "events":
        path = f"{_write_events(tmp_path, _ENCODINGS[arg])}/events.parquet"
    elif kind == "non-null":  # written NOT NULL; Spark still reads it nullable
        path = str(tmp_path / "t.parquet")
        spark.range(3).select(
            "id", F.array("id").alias("a"), F.create_map("id", "id").alias("m"),
            F.struct("id").alias("s"),
        ).write.parquet(path)
    else:
        path = f"{request.getfixturevalue('replica_dir')}/{name}.parquet"
        if name == "events":  # several parts, and the INT96 trap: pyarrow reads timestamp[ns]
            parts = sorted(glob.glob(f"{path}/part-*.parquet"))
            schema = pq.ParquetFile(parts[0]).schema
            assert len(parts) > 1
            assert schema.column(schema.names.index("ts")).physical_type == "INT96"
    with conf_scope(spark, {_NANOS_AS_LONG: "true"}):  # inference rejects nanos without it
        inferred = spark.read.parquet(path).schema
    assert catalog._footer_schema(path) == inferred


@pytest.mark.parametrize("encoding", ["micros-ntz", "micros-utc"])
def test_micros_events_read_leaves_nanos_conf_alone(spark, tmp_path, encoding):
    sf_dir = _write_events(tmp_path, _ENCODINGS[encoding])
    with conf_scope(spark, {_NANOS_AS_LONG: "false"}):
        catalog.table(spark, sf_dir, "events").collect()
        assert spark.conf.get(_NANOS_AS_LONG) == "false"


def _jobs_run_by(spark, group, build):
    """Spark jobs started while ``build()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_register_views_and_core25_builds_run_no_jobs(spark):
    jobs = {"register_views": _jobs_run_by(
        spark, "build-probe-views", lambda: catalog.register_views(spark, SF_SMOKE)
    )}
    for name in bench.CORE25:
        jobs[name] = _jobs_run_by(
            spark, f"build-probe-{name}", lambda: REGISTRY[name].fn(spark, SF_SMOKE)
        )
    assert {k: n for k, n in jobs.items() if n} == {}
