"""Pipe-delimited CSV source/sink.

The reference's intermediate format: headerless, pipe-separated,
all-string UTF-8 CSV, one file per (workbook, sheet)
(SharedCode/HelperFunction.py:30-32; consumed with sep='|' at
adffunction/__init__.py:167-168, 172).

The reference reads these one file at a time in a Python loop
(adffunction/__init__.py:150-178); here a whole folder is a single
distributed scan — the biggest structural win over the reference
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_pipe_csv(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """Read reference-style pipe CSV: headerless and, by default,
    all-string like the reference (types are the *sink's* concern there
    — Postgres COPY coerces; SURVEY.md §1.1). Pass a schema to type the
    columns at the ingest boundary."""
    reader = spark.read.option("sep", "|")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def write_pipe_csv(df: DataFrame, path: str, mode: str = "error") -> None:
    """Write headerless pipe CSV. mode='overwrite' reproduces the
    reference's pre-truncate remove_file_in_to_blob behavior
    (adffunction/__init__.py:78-80) as an atomic overwrite. One folder
    per (workbook, sheet) is the caller's naming (pipeline.ingest_excel
    writes `{basename}_{sheet}`, HelperFunction.py:30-31)."""
    df.write.option("sep", "|").mode(mode).csv(path)
