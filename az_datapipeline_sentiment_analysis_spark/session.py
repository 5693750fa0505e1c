"""SparkSession factory.

Tuned for the harness (single JVM, ``local[N]``) but every setting is
chosen to also be correct on a large cluster: AQE handles runtime
re-planning (partition coalescing, skew-join splitting, dynamic join
strategy), Arrow is on for every Python<->JVM boundary, and the session
timezone is pinned to UTC so results are comparable with the DuckDB
oracle (DuckDB timestamps are UTC-naive).

At 100 TB the only knobs that change are cluster-level (executor count,
memory, ``spark.sql.shuffle.partitions`` sized to ~2-3x total cores);
nothing in the query code depends on local mode.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _host_mem_gib() -> int:
    """Physical RAM in GiB, 0 if undeterminable (non-Linux)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 0


def _default_driver_mem(cpus: int) -> str:
    """~1 GiB per thread, capped at 32g and at 1/3 of host RAM (floor
    4g) so the default never over-commits a smaller box."""
    host = _host_mem_gib()
    cap = max(4, host // 3) if host else 16
    return f"{min(32, cpus, cap)}g"


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` body, then put each
    key back as it was: its old value, or unset if it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "spark-sentiment-engine",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: shuffle partitions default to the local core count; on
    a real cluster pass ``shuffle_partitions≈2-3x total cores`` (AQE
    coalesces small ones back down, so erring high is safe).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on sizing shuffles at scale: with AQE coalescing on, the
        # knob that matters for big inputs is
        # spark.sql.adaptive.coalescePartitions.initialPartitionNum —
        # start wide (it bounds parallelism BEFORE runtime stats exist)
        # and let AQE coalesce down. It is deliberately NOT set here:
        # at the tiny local scale most queries run at, a wide initial
        # count explodes Python (Arrow) stages into mostly-empty tasks
        # whose per-task overhead dominates. The bench's 10x replicated
        # pass still runs fine at the core-count default (measured); a
        # real cluster deployment should set it proportional to input
        # volume (e.g. bytes / 64MB), not cores.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # auto-broadcast threshold: generous for dim tables (region/nation/
        # supplier stay broadcastable even at sf100)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # ~1 GiB/thread capped at 32g and at 1/3 of host RAM: the
        # 10x-replicated dedup benches are GC-bound at 16g (simhash
        # member expansion measured 7.8s at 16g vs 2.1s at 48g), and
        # 1 GiB/core is the executor-memory-per-core ratio a production
        # cluster would run — but a fixed 32g would over-commit smaller
        # hosts, so the default is derived from the box. Override with
        # SPARK_DRIVER_MEM (also honored by bench.py's scale pass).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem(cpus)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
