"""Streaming CDC into a live JDBC sink (embedded Derby): per
micro-batch staged MERGE, idempotent under checkpoint replay."""

from __future__ import annotations

import os
import time

import pandas as pd

from azure_data_engineering_spark.sources import jdbc as J
from azure_data_engineering_spark.streaming.sinks import stream_upsert_to_jdbc

URL = "jdbc:derby:memory:streamjdbc;create=true"
PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


def _start(spark, src, ckpt):
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    return stream_upsert_to_jdbc(
        stream, URL, "t_stream", ["k"], PROPS, checkpoint=str(ckpt)
    )


def test_two_batches_merge_into_live_table(spark, tmp_path):
    J.drop_table_if_exists(URL, "t_stream", PROPS, spark)
    J._execute_statement(
        URL,
        'CREATE TABLE t_stream ("k" BIGINT NOT NULL, "v" VARCHAR(16), '
        '"version" BIGINT, PRIMARY KEY ("k"))',
        PROPS,
        spark,
    )
    src = tmp_path / "sj_src"
    src.mkdir()
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"], "version": [1, 1]}).to_parquet(
        src / "b0.parquet"
    )
    os.utime(src / "b0.parquet", (time.time() - 10,) * 2)  # b0 streams first
    pd.DataFrame({"k": [2, 3], "v": ["B", "c"], "version": [2, 1]}).to_parquet(
        src / "b1.parquet"
    )

    q = _start(spark, src, tmp_path / "sj_ckpt")
    q.awaitTermination()

    back = spark.read.jdbc(URL, "t_stream", properties=PROPS)
    assert sorted((r.k, r.v, r.version) for r in back.collect()) == [
        (1, "a", 1),
        (2, "B", 2),  # batch-1 MERGE updated the matched key
        (3, "c", 1),
    ]

    # restart on the same checkpoint: nothing new => table unchanged
    q2 = _start(spark, src, tmp_path / "sj_ckpt")
    q2.awaitTermination()
    back2 = spark.read.jdbc(URL, "t_stream", properties=PROPS)
    assert back2.count() == 3
