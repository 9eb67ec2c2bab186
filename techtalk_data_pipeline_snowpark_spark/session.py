"""SparkSession factory.

Mirrors the reference's ``SessionManager`` (tt-dps-common/src/main/scala/
it/scalabrese/techtalk/common/SessionManager.scala:8-33) minus JDBC concerns:
one healthy session per process, lazily (re)created.

Scale posture: AQE on (runtime coalesce + skew-join splitting), Arrow on
(pandas UDFs batch over Arrow, never per-row), shuffle partitions sized to
cores. On a real cluster these come from spark-submit conf; here the factory
provides sane local defaults so tests/bench share one code path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet writers: snappy is the right default for hot CDC rewrite paths.
    "spark.sql.parquet.compression.codec": "snappy",
    # Source files land with case-insensitive field names (reference
    # `get_ignore_case`); Spark default caseSensitive=false already matches.
    "spark.sql.caseSensitive": "false",
    # ANSI pinned, not inherited from the Spark default: narrowing casts
    # (operators/importance.py's decimal(9,0)) must fail loudly on
    # overflow instead of silently yielding NULL.
    "spark.sql.ansi.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
}


def get_spark(
    app_name: str = "techtalk-cdc-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) the process SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    ``shuffle_partitions`` defaults to ``cores`` — at cluster scale this is
    instead sized so a shuffle partition fits executor memory
    (events_bytes / target_partition_bytes).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()
