"""SparkSession factory with the engine's standard configuration.

Tuned for the driver environment (single JVM, local[N]) but every setting
is the one we would ship to a 1000-executor cluster as well: AQE on
(coalescing + skew-join splitting), UTC session time zone (oracle parity,
SURVEY.md §5.3), Arrow for any pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    core count, so a pinned container is not oversubscribed)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "micmac-li3ds-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or usable_cpus())
    if shuffle_partitions is None:
        # Small local corpora: fewer shuffle partitions cut latency; AQE
        # coalesces further. At 100 TB this would be sized to
        # data / (executor-mem-safe partition size ~128-256 MB).
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    return builder.getOrCreate()


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an int, tolerant of
    deployments that set ``spark.sql.shuffle.partitions=auto`` (AQE
    advisory mode): non-numeric values fall back to the cluster's
    ``defaultParallelism`` instead of raising ValueError."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conventions to an externally
    provided session (the driver owns its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # static confs on a running session — ignore
    return spark
