"""SparkSession factory for the feast-ibm-spark engine.

Replaces the reference's cloud-credential config object
(``DataEngineOfflineStoreConfig``, reference
``ibm_data_engine/data_engine_offline_store.py:83-93``): instead of an API
key / CRN / COS URL pointing at a remote serverless Spark SQL service, the
engine owns an in-process ``SparkSession``.

Design notes (100 TB scale):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast decisions replace any hand salting.
- Session timezone pinned to UTC: the reference normalizes all entity
  timestamps with ``utc=True`` (reference ``:584-585``) and formats to
  microsecond precision (``:39``); pinning the session gives the same
  fidelity for parquet timestamp reads and pandas/Arrow edges.
- shuffle.partitions defaults to 2x cores locally; on a real cluster set
  it (or rely on AQE coalescing from a higher initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "feast-ibm-spark"

# Runtime-settable engine defaults — the ONE table both session paths
# apply: ``get_spark`` for sessions the engine builds, ``configure_runtime``
# for host-supplied ones, so both plan alike (the de-hinted TPC-H joins
# depend on the 64 MB broadcast threshold).
ENGINE_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # parquet micros with isAdjustedToUTC=false would otherwise surface as
    # TIMESTAMP_NTZ (Spark 4 default), a type unix_micros()/interval math
    # reject; with the session pinned to UTC, reading them as plain
    # TIMESTAMP preserves the stored digits exactly (same as DuckDB shows)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # TIMESTAMP(NANOS) parquet columns read as raw INT64, which
    # sources/reader.py projects back to microsecond timestamps; without
    # it Spark fails the scan with PARQUET_TYPE_ILLEGAL
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Partition-discovery listing tasks capped at a multiple of task slots
# (round 13): the default parallelism of 10,000 launches ~one task PER
# DIRECTORY, so a 5,000-partition media corpus spent 11.3 s scheduling
# 2 ms listing tasks (measured; 0.6 s after the cap). Concurrent listing
# is bounded by task slots regardless, so 4x slots keeps latency hiding
# and retry granularity on slow object stores while killing the
# scheduling storm; a 2,500-slot cluster reaches the old default again.
# Slots come from the live session, so a cluster ``master`` is sized by
# its executors, not the driver's CPUs.
LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def _set_listing_parallelism(spark: SparkSession) -> None:
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set(LISTING_PARALLELISM, str(min(10_000, 4 * slots)))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    All settings below are also safe on a 1000-executor cluster; only
    ``master`` is local-specific and can be overridden. ``extra_conf``
    wins over every engine default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * int(cpus), 32)
    extra_conf = extra_conf or {}
    conf = {
        **ENGINE_DEFAULTS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        **extra_conf,
    }
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if LISTING_PARALLELISM not in extra_conf:
        _set_listing_parallelism(spark)
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an externally created
    session.

    Call it ONCE when a host (driver harness, notebook, Feast) hands us
    its own SparkSession: we cannot change JVM-start settings, but the
    ``ENGINE_DEFAULTS`` table is runtime-settable, and the timezone and AQE
    entries are required for reproducible timestamp semantics. The host's
    ``spark.sql.shuffle.partitions`` is left alone. Sessions from
    :func:`get_spark` already carry the table. The engine never re-applies
    it after that: queries, operators and readers leave the session
    config as they found it, so a later override (by the host, or through
    ``get_spark(extra_conf=...)``) stays in force.
    """
    for k, v in ENGINE_DEFAULTS.items():
        spark.conf.set(k, v)
    _set_listing_parallelism(spark)
    return spark
