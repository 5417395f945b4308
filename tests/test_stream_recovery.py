"""Kill-and-resume for the CDC snapshot sink: a crash AFTER a batch's
data+manifest write but BEFORE the pointer swap (the commit point,
sources/snapshot.py step 3) must leave readers on the last committed
version, and a restart from the same checkpoint must replay exactly
the unprocessed micro-batches — no duplicate ingestion of committed
batches, no visible orphan state. Extends test_snapshot's crash-orphan
case to the streaming path (streaming/sinks.py)."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from azure_data_engineering_spark.sources import snapshot as S
from azure_data_engineering_spark.streaming.sinks import stream_cdc_to_snapshot


def _write_batch_files(src, both=False):
    pd.DataFrame(
        {"op": ["I", "I"], "k": [1, 2], "v": ["a", "b"], "version": [1, 1]}
    ).to_parquet(src / "b0.parquet")
    if both:
        time.sleep(1.05)  # distinct mtime => deterministic file order
        pd.DataFrame(
            {"op": ["U", "D", "I"], "k": [2, 1, 3], "v": ["B", "x", "c"], "version": [2, 2, 2]}
        ).to_parquet(src / "b1.parquet")


def _start(spark, src, table, ckpt):
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    from pyspark.sql import functions as F

    return stream_cdc_to_snapshot(
        stream,
        table,
        pk=["k"],
        dedup_order=[F.col("version").desc()],
        checkpoint=ckpt,
    )


def test_crash_before_pointer_swap_then_resume(spark, tmp_path, monkeypatch):
    src = tmp_path / "cdc_src"
    src.mkdir()
    table = str(tmp_path / "snap_table")
    ckpt = str(tmp_path / "ckpt")

    # ---- run 1: only batch 0 exists; commits v1 cleanly
    _write_batch_files(src)
    q = _start(spark, src, table, ckpt)
    q.awaitTermination()
    assert S.current_version(table) == 1
    v1 = {r.k: r.v for r in S.snapshot_read(spark, table).collect()}
    assert v1 == {1: "a", 2: "b"}

    # ---- run 2: batch 1 arrives, but the process dies at the commit
    # point — manifest written, pointer swap never happens
    time.sleep(1.05)
    pd.DataFrame(
        {"op": ["U", "D", "I"], "k": [2, 1, 3], "v": ["B", "x", "c"], "version": [2, 2, 2]}
    ).to_parquet(src / "b1.parquet")

    real_rename = S.os.rename

    def crash_at_commit(a, b):
        if b.endswith("_current"):
            raise OSError("simulated crash before pointer swap")
        return real_rename(a, b)

    monkeypatch.setattr(S.os, "rename", crash_at_commit)
    q2 = _start(spark, src, table, ckpt)
    with pytest.raises(Exception):
        q2.awaitTermination()
    monkeypatch.setattr(S.os, "rename", real_rename)

    # crash left a CLAIMED-but-uncommitted slot (v2 manifest carrying
    # this query's batch claim tag) but readers still resolve the last
    # committed snapshot
    assert S.current_version(table) == 1
    assert max(S.snapshot_versions(table)) == 2  # the dead claim exists...
    assert {r.k: r.v for r in S.snapshot_read(spark, table).collect()} == v1  # ...invisible

    # ---- run 3: restart from the same checkpoint. Only the failed
    # batch replays (batch 0 must NOT re-ingest), and because the dead
    # slot carries the SAME (checkpoint, batch) claim tag, the retry
    # RECLAIMS it instead of being fenced out (a FOREIGN writer's claim
    # would still block — tests/test_snapshot_cas.py covers that side).
    applied = []
    real_apply = S.snapshot_apply_cdc

    def counting_apply(changes, table_, pk, **kw):
        applied.append(changes.count())
        return real_apply(changes, table_, pk, **kw)

    monkeypatch.setattr(S, "snapshot_apply_cdc", counting_apply)
    q3 = _start(spark, src, table, ckpt)
    q3.awaitTermination()

    assert applied == [3], f"expected exactly the 3-row failed batch, got {applied}"
    cur = S.current_version(table)
    assert cur == max(S.snapshot_versions(table)) == 2  # slot reclaimed
    final = {r.k: r.v for r in S.snapshot_read(spark, table).collect()}
    assert final == {2: "B", 3: "c"}  # U applied, D applied, I applied
    # pre-crash snapshot still time-travelable
    assert {r.k: r.v for r in S.snapshot_read(spark, table, version=1).collect()} == v1


def test_clean_two_batch_run_with_checkpoint(spark, tmp_path):
    """Baseline for the crash case: same two batches, no crash — the
    checkpointed query processes each file exactly once and the table
    lands in the same final state."""
    src = tmp_path / "cdc_src2"
    src.mkdir()
    table = str(tmp_path / "snap_table2")
    _write_batch_files(src, both=True)
    q = _start(spark, src, table, str(tmp_path / "ckpt2"))
    q.awaitTermination()
    assert {r.k: r.v for r in S.snapshot_read(spark, table).collect()} == {2: "B", 3: "c"}
    # second identical start: nothing new to process, no new version
    v = S.current_version(table)
    q2 = _start(spark, src, table, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert S.current_version(table) == v
