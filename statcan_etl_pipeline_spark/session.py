"""Tuned SparkSession builder.

Local mode for tests/bench; the same conf names are what you would set
on a real cluster (AQE on, shuffle partitions sized to parallelism,
Arrow enabled for the few Pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "statcan-etl-pipeline-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", min(os.cpu_count() or 4, 32)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.x infers parquet timestamp[us]-without-timezone as
        # TIMESTAMP_NTZ, which event-time features (withWatermark,
        # unix_micros, session_window) reject. Keep the classic TIMESTAMP
        # inference; with the session TZ pinned to UTC the values are
        # identical. Star-table reads (catalog) take TIMESTAMP from the
        # parquet footer whatever this conf says; the streaming jobs
        # expect TIMESTAMP event time and fail at withWatermark on NTZ.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
