"""Streaming near-dup dedup against a PERSISTED signature store — the
continuous-crawl shape: every micro-batch of documents is checked
against the minhash/LSH band buckets of everything previously kept,
survivors are emitted AND their buckets are committed back to the
store, so duplicates of last week's corpus are dropped this week.

Why not dropDuplicatesWithinWatermark? That is exact-key state with a
time horizon; corpus dedup needs NEAR-duplicate matching (LSH) with
UNBOUNDED history, and the history must be a queryable table, not
opaque state-store files. So the operator keeps its state in a
manifest-committed snapshot table (sources/snapshot.py): one atomic
commit per micro-batch, time-travelable, vacuumable, and shared with
batch jobs.

Store layout: (id, band, band_hash) — signatures EXPLODED to one row
per band. The history probe is then a plain equi-join on
(band, band_hash): no array ops, broadcast-able when the batch is
small, and at 100 TB the store is just a big parquet table the join
shuffles on its bucket key. Candidate semantics inherit the LSH S-curve of
minhash_lsh_candidates (operators/dedup._NUM_HASHES/_BANDS): ~0.5
Jaccard threshold at 64/16.

Scale notes:
- per batch: one signature pipeline (explode→hash→64 codegen min-aggs,
  operators/dedup.band_buckets), materialized once and shared by the
  intra-batch pairs, one join against the store and one append-only
  snapshot commit of the survivors' bucket rows (O(batch), never
  rewrites history); the survivors are materialized once, before that
  commit, so the caller's write of them re-runs no join;
- intra-batch duplicates resolve deterministically (min id wins) via
  the in-bucket pairs of the batch's own buckets, so a batch full of
  copies admits exactly one;
- exact copies share identical signatures, hence all bands collide —
  exact dedup is subsumed;
- crash safety = the snapshot commit protocol: a batch that dies
  before its pointer swap leaves the store on the previous version and
  the checkpoint replays the batch (tests/test_stream_recovery.py
  proves the pattern for the CDC sink);
- maintenance: append commits add O(1) files per batch, so after many
  batches the store accumulates small files and old manifests — run
  sources/snapshot.snapshot_compact (a version-fenced commit, so it may
  race the stream safely) plus sources/snapshot.vacuum(keep_last=N)
  periodically, exactly like any log-structured table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_data_engineering_spark.operators.dedup import (
    _MAX_BUCKET,
    _bucket_pairs,
    band_buckets,
)
from azure_data_engineering_spark.sources.snapshot import (
    current_version,
    snapshot_read,
    snapshot_write,
)


def dedup_batch_against_store(
    batch: DataFrame, store_table: str, text_col: str, id_col: str
) -> DataFrame:
    """One round of continuous dedup: drop batch docs that (a) are
    intra-batch near-dups of a lower-id batch doc, or (b) share any
    band bucket with the persisted store; append the SURVIVORS' buckets
    to the store as one atomic snapshot commit. Returns the surviving
    rows of `batch` (all original columns)."""
    # materialize once: the intra-batch pairs, the history semi-join
    # and the store append all read these buckets, and neither the
    # commit nor the returned survivors would otherwise reuse the
    # shingle → minhash exchange
    buckets = band_buckets(batch, text_col, id_col).localCheckpoint(eager=True)
    # (a) intra-batch near-dups: the higher id of each candidate pair
    doomed = _bucket_pairs(buckets, _MAX_BUCKET).select(F.col("id_b").alias("id"))
    # (b) history collisions: semi-join on the bucket key
    if current_version(store_table) is not None:
        store = snapshot_read(batch.sparkSession, store_table)
        doomed = doomed.unionByName(
            buckets.join(store, ["band", "band_hash"], "left_semi").select("id")
        )
    # materialize once: the store commit and the caller's write of the
    # returned frame would otherwise each rescan the batch and re-run
    # the anti-join
    survivors = batch.join(
        doomed.distinct().withColumnRenamed("id", id_col), [id_col], "left_anti"
    ).localCheckpoint(eager=True)
    # persist survivors' buckets — O(batch) append, atomic commit
    surv_buckets = buckets.join(
        survivors.select(F.col(id_col).alias("id")), ["id"], "left_semi"
    )
    snapshot_write(surv_buckets, store_table, mode="append")
    return survivors


def stream_neardup_filter(
    stream: DataFrame,
    store_table: str,
    out_table: str,
    text_col: str,
    id_col: str,
    checkpoint: str | None = None,
    query_name: str = "stream_neardup",
):
    """Continuous near-dup filtering: each micro-batch flows through
    dedup_batch_against_store, survivors are appended to the parquet
    folder `out_table`, and the signature store advances one snapshot
    version per batch. availableNow + checkpoint → exactly-once batch
    replay on restart."""

    def dedup_and_emit(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup_batch_against_store(batch_df, store_table, text_col, id_col)
        survivors.write.mode("append").parquet(out_table)

    writer = stream.writeStream.foreachBatch(dedup_and_emit).queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
