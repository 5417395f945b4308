"""Late-data semantics: watermarks bound state and eventually drop
too-late rows (SURVEY.md §5 item 4).

Observed Spark semantics encoded here (not folklore):
- the watermark is a MAY-drop bound — late rows are merged as long as
  the window's state is still alive;
- the late-row filter uses the watermark as of the previous batch, so
  a drop needs: [window rows] -> [watermark advancer] -> [one more
  batch to propagate] -> [late row dropped];
- within-watermark late rows are always merged.
Files are streamed one-per-micro-batch (maxFilesPerTrigger=1).
"""

from __future__ import annotations

import os
import time

import pandas as pd

from pyspark.sql import functions as F

from azure_data_engineering_spark.streaming.windows import tumbling_counts


def _write_batches(tmp_path, batches):
    d = tmp_path / "stream"
    d.mkdir()
    for i, (ids, stamps, values) in enumerate(batches):
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(stamps),
                "event_type": ["a"] * len(ids),
                "value": values,
            }
        ).to_parquet(d / f"b{i}.parquet", coerce_timestamps="us")
        # distinct mtimes fix the batch order
        os.utime(d / f"b{i}.parquet", (time.time() - 100 + i,) * 2)
    return str(d)


def _run(spark, path, sink, mode):
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        # parquet NTZ -> session-tz timestamp: watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        tumbling_counts(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    path = _write_batches(
        tmp_path,
        [
            ([1, 2], ["2024-01-01 10:05", "2024-01-01 10:20"], [1.0, 1.0]),
            ([3], ["2024-01-01 15:00"], [1.0]),  # advances watermark to 13:00
            ([5], ["2024-01-01 15:30"], [1.0]),  # propagates it to the late-row filter
            ([4], ["2024-01-01 10:40"], [100.0]),  # 2h20m behind: dropped
        ],
    )
    q = _run(spark, path, "late_sink", "append")
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 1
    rows = {r["window_start"].strftime("%H:%M"): r for r in spark.table("late_sink").collect()}
    # the 10:00 window finalized with only the on-time rows
    assert rows["10:00"]["n_events"] == 2
    assert rows["10:00"]["sum_value"] == 2.0


def test_late_row_bridges_two_sessions(spark, tmp_path):
    """Session merge on late data: two sessions 40 minutes apart (gap
    30m) become ONE when a late within-watermark row lands between
    them. Checked against the batch gaps-and-islands plan (sessionize)
    over the same rows — streaming state-store session merge must equal
    the batch computation."""
    from azure_data_engineering_spark.operators.window_ops import sessionize
    from azure_data_engineering_spark.streaming.windows import session_counts

    d = tmp_path / "sess_stream"
    d.mkdir()
    batches = [
        # session A (10:00, 10:10) and session B (10:50, 11:00): the
        # 10:10 -> 10:50 gap is 40m > 30m -> two sessions so far
        (["2024-01-01 10:00", "2024-01-01 10:10", "2024-01-01 10:50", "2024-01-01 11:00"],),
        # late bridging row: every gap through it is < 30m -> sessions merge
        (["2024-01-01 10:25"],),
    ]
    for i, (stamps,) in enumerate(batches):
        pd.DataFrame(
            {"user_id": [7] * len(stamps), "ts": pd.to_datetime(stamps)}
        ).to_parquet(d / f"b{i}.parquet", coerce_timestamps="us")
        os.utime(d / f"b{i}.parquet", (time.time() - 100 + i,) * 2)
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        session_counts(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sess_merge_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = [
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("sess_merge_sink").collect()
    ]
    batch_df = spark.read.parquet(str(d)).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = [
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(batch_df, "user_id", "ts", gap_minutes=30).collect()
    ]
    assert sorted(streamed) == sorted(batch)
    assert len(streamed) == 1 and streamed[0][2] == 5  # one merged session of 5


def test_in_watermark_late_rows_are_kept(spark, tmp_path):
    path = _write_batches(
        tmp_path,
        [
            ([1, 2], ["2024-01-01 10:05", "2024-01-01 11:30"], [1.0, 1.0]),
            ([3], ["2024-01-01 10:40"], [5.0]),  # late but within the 2h watermark
        ],
    )
    _run(spark, path, "late_sink2", "complete")
    rows = {r["window_start"].strftime("%H:%M"): r for r in spark.table("late_sink2").collect()}
    assert rows["10:00"]["n_events"] == 2
    assert rows["10:00"]["sum_value"] == 6.0
