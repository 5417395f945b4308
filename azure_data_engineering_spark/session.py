"""SparkSession factory with scale-oriented defaults.

The reference app is single-threaded, one-file-at-a-time
(adffunction/__init__.py:91-104,150-178). Our engine replaces that with
Spark's distributed execution; this module centralises the session
configuration so tests, bench and the driver entry all agree.

Config choices (and why they hold at 100 TB / 1000 executors):
- AQE on: runtime re-planning (skew-join splitting, dynamic coalescing
  of shuffle partitions) matters far more at scale than at sf0.1.
- shuffle.partitions: sized per-environment; on a real cluster this is
  set to ~2-3x total cores (or left to AQE coalescing from a high
  initial value). Locally we use the core count.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are stable across clusters.
- Arrow enabled: every Pandas-UDF boundary (text analysis, multimodal
  decode) transfers columnar Arrow batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "azure-data-engineering-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) the configured SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism (driver contract);
    unset, it defaults to this machine's core count.
    """
    default_cpus = str(os.cpu_count() or 1)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default_cpus)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus if cpus.isdigit() else default_cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # test data carries TIMESTAMP(NANOS) parquet (events.ts), which
        # Spark 4 rejects outright; read as bigint nanos, converted to
        # timestamp in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark otherwise captures the Python call site of every
        # pyspark.sql.functions call: a conf read through the JVM, a
        # stack walk, and a set and clear of the JVM origin, which adds
        # about 1 ms to each call (F.col: 1.4 ms against 0.5 ms on a
        # 4-core host). Trade-off: a Spark error raised from a
        # DataFrame-API expression no longer names the Python file:line
        # that built it; its error class and message are unchanged.
        # PySpark reads this once per Python process, at the first
        # functions call under an active session, so it must be a
        # builder conf (a runtime conf.set comes too late).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
