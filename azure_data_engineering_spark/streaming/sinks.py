"""Streaming sinks beyond the built-ins: CDC-style upsert.

The reference's load path is batch COPY/upsert per blob folder
(adffunction/__init__.py:117-194). The streaming twin is foreachBatch:
each micro-batch MERGEs into the target with the same PK semantics
(operators/upsert.merge_upsert = PGHelperFunction.py:44-67 semantics).
On Delta/Iceberg the merge is transactional `MERGE INTO`; on plain
parquet the merged result is written DISTRIBUTED to a temp directory
and committed with an atomic rename swap — the target never
round-trips through driver memory, so the sink scales to targets far
beyond driver heap (the reference's staging-table-then-commit shape,
PGHelperFunction.py:74-77, re-expressed for a filesystem).

Commit protocol (local/HDFS-style rename-capable filesystems):
  1. write merged → `{target}.__tmp_epoch_{id}`   (distributed)
  2. rename target → `{target}.__old_epoch_{id}`  (atomic)
  3. rename tmp → target                          (atomic)
  4. delete old
A crash between 2 and 3 leaves no target but an `__old_epoch_*`
directory; `_recover_target` rolls that back on the next batch. On
object stores without atomic rename you'd swap a current-pointer
manifest instead; on Delta/Iceberg none of this is needed.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame

from azure_data_engineering_spark.operators.upsert import default_dedup_order, merge_upsert


def _recover_target(target_path: str) -> None:
    """Roll back an interrupted swap: if the target vanished mid-commit,
    restore the newest `__old_epoch_*` backup; then clear leftovers."""
    olds = sorted(glob.glob(glob.escape(target_path) + ".__old_epoch_*"))
    if olds and not os.path.exists(target_path):
        os.rename(olds.pop(), target_path)
    for stale in olds:
        shutil.rmtree(stale, ignore_errors=True)
    for stale in glob.glob(glob.escape(target_path) + ".__tmp_epoch_*"):
        shutil.rmtree(stale, ignore_errors=True)


def _atomic_swap(target_path: str, tmp_path: str, batch_id: int) -> None:
    old = f"{target_path}.__old_epoch_{batch_id}"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp_path, target_path)
    shutil.rmtree(old, ignore_errors=True)


def stream_upsert_to_parquet(
    stream: DataFrame,
    target_path: str,
    pk: Sequence[str],
    dedup_order: Sequence | None = None,
    query_name: str = "stream_upsert",
    checkpoint: str | None = None,
):
    """Run a streaming query that MERGEs every micro-batch into the
    parquet table at target_path (update-matched / insert-unmatched /
    batch deduped on PK). Returns the StreamingQuery; caller awaits.

    dedup_order: total order deciding which in-batch duplicate wins per
    PK. Default: descending struct over the non-PK payload columns — a
    real total order (ordering by the PK itself would be a no-op on
    rows that share that PK)."""
    spark = stream.sparkSession

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_target(target_path)
        order = (
            list(dedup_order)
            if dedup_order is not None
            else default_dedup_order(batch_df.columns, pk)
        )
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch_df.select(*target.columns), pk, dedup_order=order)
        else:
            from azure_data_engineering_spark.operators.relational import dedup_keep_first

            merged = dedup_keep_first(batch_df, pk, order)
        # Distributed write to a temp dir (materializes the merge before
        # the files it read are touched), then atomic rename swap.
        tmp = f"{target_path}.__tmp_epoch_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        _atomic_swap(target_path, tmp, batch_id)

    writer = stream.writeStream.foreachBatch(upsert_batch).queryName(query_name)
    if checkpoint:
        # durable progress log: a restarted query resumes from the
        # first unprocessed micro-batch instead of re-ingesting
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_upsert_to_snapshot(
    stream: DataFrame,
    table: str,
    pk: Sequence[str],
    dedup_order: Sequence | None = None,
    query_name: str = "stream_upsert_snapshot",
    checkpoint: str | None = None,
):
    """The CDC sink on a manifest-committed snapshot table
    (sources/snapshot.py): each micro-batch becomes ONE atomic
    snapshot_merge commit, so readers flip between consistent table
    versions at batch boundaries and every pre-batch state stays
    time-travelable. This is the object-store-safe variant of
    stream_upsert_to_parquet — the commit point is a single pointer
    rename, not a directory swap — and the closest filesystem analogue
    of MERGE-per-batch on Delta/Iceberg. Commits are version-fenced
    (every snapshot_merge is), so this sink can share the table with a
    concurrent batch writer (e.g. compaction) without last-writer-wins
    dropping a commit — a lost race rebases on the winner's snapshot
    and retries."""
    from azure_data_engineering_spark.sources.snapshot import snapshot_merge

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # claim tag = (checkpoint, batch): a RESTARTED attempt of this
        # same batch may reclaim the slot its dead predecessor left
        # between claim and pointer swap (single live attempt per
        # query+batch is Structured Streaming's own guarantee)
        snapshot_merge(
            batch_df,
            table,
            pk,
            dedup_order=dedup_order,
            claim_tag=f"{checkpoint or query_name}#b{batch_id}",
        )

    writer = stream.writeStream.foreachBatch(upsert_batch).queryName(query_name)
    if checkpoint:
        # durable progress log: a restarted query resumes from the
        # first unprocessed micro-batch instead of re-ingesting
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_cdc_to_snapshot(
    stream: DataFrame,
    table: str,
    pk: Sequence[str],
    op_col: str = "op",
    dedup_order: Sequence | None = None,
    query_name: str = "stream_cdc_snapshot",
    checkpoint: str | None = None,
):
    """Full changelog streaming (inserts, updates, AND deletes) into a
    snapshot table: each micro-batch folds through snapshot_apply_cdc
    as one atomic commit, so a delete that arrives in batch N is
    absent from version N but still visible when time-traveling to
    N-1. This is the Debezium-consumer shape: upstream row images
    tagged I/U/D, downstream table always a consistent version.
    Commits are version-fenced (every snapshot_apply_cdc is): a
    concurrent batch writer on the same table costs this sink a
    rebase-and-retry, never a silently dropped commit."""
    from azure_data_engineering_spark.sources.snapshot import snapshot_apply_cdc

    def cdc_batch(batch_df: DataFrame, batch_id: int) -> None:
        # see upsert_batch: batch-keyed claim tag enables crash-restart
        # self-recovery without weakening the foreign-writer fence
        snapshot_apply_cdc(
            batch_df,
            table,
            pk,
            op_col=op_col,
            dedup_order=dedup_order,
            claim_tag=f"{checkpoint or query_name}#b{batch_id}",
        )

    writer = stream.writeStream.foreachBatch(cdc_batch).queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_upsert_to_jdbc(
    stream: DataFrame,
    url: str,
    table: str,
    pk: Sequence[str],
    properties: dict[str, str],
    dialect: str = "ansi",
    query_name: str = "stream_upsert_jdbc",
    checkpoint: str | None = None,
):
    """Streaming CDC into a LIVE relational sink: every micro-batch
    runs the staged server-side MERGE (sources/jdbc.jdbc_upsert —
    distributed append into staging, ONE set-based statement, drop).
    This is the reference's blob→Postgres loop
    (adffunction/__init__.py:117-194) with the blob poll replaced by a
    real stream; per batch the server sees exactly one transaction-
    shaped statement, so a crashed batch re-MERGEs idempotently on
    checkpoint replay (MERGE of the same rows is a no-op).
    tests/test_stream_jdbc.py drives it against embedded Derby."""
    from azure_data_engineering_spark.sources.jdbc import jdbc_upsert

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_upsert(
            batch_df.sparkSession, batch_df, url, table, pk, properties, dialect=dialect
        )

    writer = stream.writeStream.foreachBatch(merge_batch).queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
