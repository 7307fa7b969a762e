"""SparkSession builder with scale-aware defaults.

Local mode is a single JVM (driver == executors), so ``spark.driver.memory``
is the only memory knob. The shuffle-partition count is sized to the local
core count; on a real cluster it should be sized to ~2-3x total cores or
left to AQE coalescing. AQE is on everywhere: it re-plans joins at runtime
(broadcast conversion, skew-join splitting) which is exactly what we want
at 100 TB where static statistics lie.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores the driver harness gives us (local[N]).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: local mode runs
    driver and executors in this one JVM, so a fixed large heap gets it
    OOM-killed on a small machine. ``SPARK_DRIVER_MEM`` overrides it."""
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "spectraplex_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults chosen for correctness-first local runs that still express
    the scale story:
      - AQE + coalesce + skew-join: runtime re-planning (the 100 TB path
        relies on AQE skew splitting instead of manual salting where
        possible).
      - Arrow enabled: every Pandas-UDF/toPandas crossing is Arrow-batched.
      - UTC session timezone: deterministic timestamp semantics vs the
        DuckDB oracle.
    """
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else CPUS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
