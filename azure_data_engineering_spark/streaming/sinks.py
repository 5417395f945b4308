"""Streaming sinks beyond the built-ins: CDC-style upsert.

The reference's load path is batch COPY/upsert per blob folder
(adffunction/__init__.py:117-194). The streaming twin is foreachBatch:
each micro-batch MERGEs into the target with the same PK semantics
(operators/upsert.merge_upsert = PGHelperFunction.py:44-67 semantics).

One commit protocol: every file-backed sink writes to a snapshot table
(sources/snapshot.py), so each micro-batch is ONE version-fenced
commit — the merged result is staged distributed (the target never
round-trips through driver memory) and made visible by a single
pointer rename, the reference's staging-table-then-commit shape
(PGHelperFunction.py:74-77) re-expressed for a filesystem. Readers
flip between consistent versions at batch boundaries, a crashed batch
leaves the previous version current for the checkpoint to replay, and
a concurrent writer on the same table (say `snapshot_compact`) costs a
rebase, never a lost commit. The relational sink runs the staged
server-side MERGE instead (sources/jdbc.jdbc_upsert).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


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
    time-travelable — the closest filesystem analogue of
    MERGE-per-batch on Delta/Iceberg. Commits are version-fenced (every
    snapshot_merge is), so this sink can share the table with a
    concurrent batch writer (e.g. snapshot_compact) without
    last-writer-wins dropping a commit — a lost race rebases on the
    winner's snapshot and retries.

    dedup_order: total order deciding which in-batch duplicate wins per
    PK. Default: descending struct over the non-PK payload columns."""
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
