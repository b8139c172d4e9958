"""SparkSession factory with a 100 TB-minded default config.

The reference (scripts/process_sales.py:19-22) builds a bare session; here we
pin the settings that matter at scale and for oracle-exactness:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this would be ~2-3x total executor cores and AQE coalesces
  downward from there.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for any Pandas-UDF path (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "sales_data_pipeline_gcp_spark",
    *,
    cpus: int | None = None,
    driver_memory: str = "48g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS), which the vectorized
        # parquet reader rejects; this session-wide flag reads nanos as
        # int64 EVERYWHERE (deliberate, documented — io.load('events')
        # depends on it and re-asserts it for externally-built sessions)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
