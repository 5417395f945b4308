"""Typed table registry over the test-data star schema.

The reference's only "catalog" is runtime introspection of the Postgres
sink (SharedCode/PGHelperFunction.py:12-34) — schema authority lives
outside the app. Here the authority is the parquet footer schema; this
module is the single place that maps logical table names to paths and
registers them as SQL views.

At 100 TB these would be partitioned external tables (or a metastore);
the name→path indirection below is the seam where that swaps in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_defaults(spark: SparkSession) -> None:
    """Make an EXTERNALLY-created session (e.g. the driver's) safe for
    this catalog: TIMESTAMP(NANOS) parquet support, UTC timestamp
    semantics (oracle parity), Arrow batches. All runtime-settable SQL
    confs — cheap to re-apply per load."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


# footer schema per table file version: inferring it runs a Spark job on
# every load, and a workload loads the same few tables many times
_SCHEMAS: dict[tuple, StructType] = {}


def _footprint(path: str) -> tuple | None:
    """(path, size, mtime) of a local table, None for a remote URI or a
    missing path (those are inferred on every load)."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_size, st.st_mtime_ns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar vectorized parquet scan; Catalyst prunes columns and
    pushes predicates into this scan automatically."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_defaults(spark)
    path = table_path(sf_dir, name)
    key = _footprint(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    for c in {"events": ["ts"]}.get(name, []):
        df = restore_event_time(df, c)
    return df


def restore_event_time(df, col: str):
    """Normalize an event-time column to TIMESTAMP regardless of how the
    parquet writer encoded it:

    - TIMESTAMP(NANOS) arrives as bigint nanos under nanosAsLong (see
      ensure_session_defaults) -> integer `div 1000` to micros (double
      division would lose precision on ~1.7e18 nano values > 2^53);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ,
      which watermarks/event-time ops reject -> cast to TIMESTAMP (the
      session timezone is pinned to UTC, so the instant is unchanged);
    - TIMESTAMP arrives ready -> no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES if os.path.exists(table_path(sf_dir, name))}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` (the
    engine's full-SQL entry point, cf. the reference's stored-proc
    escape hatch adffunction/__init__.py:216) can see them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
