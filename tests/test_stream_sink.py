"""CDC-style streaming upsert sink: per-micro-batch MERGE into a
snapshot table (foreachBatch, one commit per batch)."""

from __future__ import annotations

import os
import time

import pandas as pd

from azure_data_engineering_spark.sources.snapshot import snapshot_read
from azure_data_engineering_spark.streaming.sinks import stream_upsert_to_snapshot


def test_two_batches_merge_into_target(spark, tmp_path):
    src = tmp_path / "cdc_src"
    src.mkdir()
    target = str(tmp_path / "cdc_target")
    # batch 0: initial keys; batch 1: one update + one insert + an
    # in-batch duplicate (PK dedup picks highest version)
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"], "version": [1, 1]}).to_parquet(src / "b0.parquet")
    os.utime(src / "b0.parquet", (time.time() - 10,) * 2)  # b0 streams first
    pd.DataFrame(
        {"k": [2, 3, 3], "v": ["B", "c_old", "c_new"], "version": [2, 1, 2]}
    ).to_parquet(src / "b1.parquet")

    from pyspark.sql import functions as F

    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = stream_upsert_to_snapshot(
        stream, target, pk=["k"], dedup_order=[F.col("version").desc()]
    )
    q.awaitTermination()

    final = {r["k"]: (r["v"], r["version"]) for r in snapshot_read(spark, target).collect()}
    assert final == {1: ("a", 1), 2: ("B", 2), 3: ("c_new", 2)}


def test_sink_never_collects_to_driver(spark, tmp_path, monkeypatch):
    """Scale contract: the CDC sink must write the merged target
    distributed — a target bigger than driver memory must not round-trip
    through collect()/toPandas()/toLocalIterator()."""
    from pyspark.sql import DataFrame

    src = tmp_path / "nc_src"
    src.mkdir()
    target = str(tmp_path / "nc_target")
    pd.DataFrame({"k": [1, 2, 2], "v": [10, 20, 21]}).to_parquet(src / "b0.parquet")

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("sink materialized the target on the driver")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "toLocalIterator", boom)

    schema = spark.read.schema("k long, v long").parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream_upsert_to_snapshot(stream, target, pk=["k"])
    q.awaitTermination()
    monkeypatch.undo()
    # default dedup_order = desc struct over payload → v=21 wins for k=2
    final = {r["k"]: r["v"] for r in snapshot_read(spark, target).collect()}
    assert final == {1: 10, 2: 21}


def test_char_shingles(spark):
    from pyspark.sql import functions as F

    from azure_data_engineering_spark.operators.dedup import char_shingles

    out = spark.range(1).select(char_shingles(F.lit("abcdef"), 5).alias("s")).collect()[0]["s"]
    assert sorted(out) == ["abcde", "bcdef"]
    short = spark.range(1).select(char_shingles(F.lit("ab"), 5).alias("s")).collect()[0]["s"]
    assert short == ["ab"]


def test_stream_cdc_deletes_and_time_travel(spark, tmp_path):
    """Changelog stream with deletes: batch 1 inserts 1-3; batch 2
    updates 2, deletes 3, inserts 4. The final snapshot version must
    reflect the delete, and time travel to the pre-delete version must
    still show key 3."""
    from azure_data_engineering_spark.sources.snapshot import (
        current_version,
        snapshot_read,
    )
    from azure_data_engineering_spark.streaming.sinks import stream_cdc_to_snapshot

    src = tmp_path / "cdcd_src"
    src.mkdir()
    table = str(tmp_path / "cdcd_table")
    pd.DataFrame(
        {"k": [1, 2, 3], "v": ["a", "b", "c"], "op": ["I", "I", "I"]}
    ).to_parquet(src / "b0.parquet")
    os.utime(src / "b0.parquet", (time.time() - 10,) * 2)  # b0 streams first
    pd.DataFrame(
        {"k": [2, 3, 4], "v": ["B", "c", "d"], "op": ["U", "D", "I"]}
    ).to_parquet(src / "b1.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = stream_cdc_to_snapshot(stream, table, pk=["k"])
    q.awaitTermination()

    final = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert final == {1: "a", 2: "B", 4: "d"}
    v = current_version(table)
    prev = {r["k"]: r["v"] for r in snapshot_read(spark, table, version=v - 1).collect()}
    assert prev == {1: "a", 2: "b", 3: "c"}
